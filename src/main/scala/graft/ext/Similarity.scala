package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.10).
  *
  * Scale design (100 TB): brute-force top-k is the correctness baseline —
  * a broadcast of the (small) query set against the corpus, one pass, one
  * shuffle for the per-query top-k. The LSH-bucketed variant prunes the
  * corpus side by sign-bucket equality first, shrinking the candidate set
  * by ~2^bits before any dot product is computed; at cluster scale the
  * buckets also give the shuffle key for co-partitioned retrieval.
  *
  * All cosine values are computed in double and rounded to 6 dp; ordering
  * ties break on vec_id — so top-k is total-ordered and reproducible across
  * engines (float-sum association noise ~1e-13 ≪ the 1e-6 grain).
  */
object Similarity {

  /** Dot product of two float-array columns in double precision — the
    * native codegen'd expression (tight primitive loop, no per-row
    * allocation). Bit-identical to [[dotHof]]: same left-to-right double
    * summation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.float_dot(a, b)

  /** Built-in-composed dot product (interpreted HOF path) — kept as the
    * reference implementation for arbitrary numeric arrays and for
    * differential testing against [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** 6-dp cosine. Zero-norm contract: a zero-norm vector produces NaN
    * (IEEE 0/0 — double division never ANSI-errors), which every
    * downstream excludes — TopKAgg by its NULL/NaN contract, threshold
    * filters because NaN fails every comparison; the DuckDB oracles'
    * NULL behaves identically (ranked stages filter it explicitly). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Per-query top-k over a scored (query_id, neighbor_id, cos) frame via
    * the bounded-heap aggregate [[graft.functions.TopKAgg]] — partial
    * aggregation shrinks candidates to ≤k per (query, partition) map-side,
    * so no single reducer ever sees the full scored corpus (the
    * `row_number().over(partitionBy(query_id))` form it replaces funneled
    * ALL scored rows through one task per query). Same total order as the
    * window form: cos desc (pre-rounded 6 dp), neighbor_id asc —
    * bit-identical results. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.top_k(
        col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), col("t.rank").as("rank"))

  /** Brute-force top-k cosine neighbors for a query subset (`queryPred`
    * selects the query vectors, e.g. `vec_id < 8`). Excludes self-matches.
    */
  def bruteForceTopK(
      emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val corpus = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the `k` MOST similar corpus vectors with a DIFFERENT
    * label — the near-misses that teach a margin, where random negatives
    * teach nothing. Identical plan to [[bruteForceTopK]] (broadcast
    * queries × corpus scan → bounded-heap top-k, map-side partials, no
    * per-query reducer funnel); the label inequality rides the join
    * condition so mismatched pairs never score. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int,
      labelCol: String = "label"): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col(labelCol).as("q_label"))
    val corpus = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col(labelCol).as("n_label"))
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id") &&
          col("q_label") =!= col("n_label"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** Semi-hard negative mining (the FaceNet triplet criterion): the
    * `k` most-similar DIFFERENT-label vectors that are still LESS
    * similar than the query's best same-label match — inside the margin
    * but not "harder than the positive" (those often encode label noise
    * and destabilize training; [[hardNegatives]] returns them, this
    * filters them). The positive bar per query is one `max(cos)`
    * aggregate over same-label pairs — map-side partials, one tiny
    * (query_id, pos_cos) frame joined back before the bounded-heap
    * top-k; queries with no same-label partner drop (no bar defined). */
  def semiHardNegatives(emb: DataFrame, queryPred: Column, k: Int,
      labelCol: String = "label"): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col(labelCol).as("q_label"))
    val corpus = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col(labelCol).as("n_label"))
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val posBar = scored.filter(col("q_label") === col("n_label"))
      .groupBy(col("query_id")).agg(max(col("cos")).as("pos_cos"))
    val semiHard = scored.filter(col("q_label") =!= col("n_label"))
      .join(broadcast(posBar), Seq("query_id"))
      .filter(col("cos") < col("pos_cos"))
    topKPerQuery(semiHard, k)
  }

  /** Margin-scored mutual-best alignment (bitext-mining shape, the
    * LASER/CCMatrix criterion): split the corpus into two sides, score
    * cross-side cosine, and keep pairs that are each other's BEST match
    * with ratio margin `cos(a,b) / ((avgTopK(a) + avgTopK(b)) / 2)` at
    * or above the threshold — absolute cosine alone over-matches hubs;
    * the margin normalizes by each node's local similarity floor.
    *
    * Scoring here is the EXACT all-pairs baseline (like the n-gram
    * Jaccard baseline: verification-grade, spec-only, kept out of
    * bench AND out of the registry) — the registered query is
    * [[bitextMarginPairsLsh]], whose sign-bucket candidate stage bounds
    * both shuffle and memory at corpus scale; the ranking, mutual-best
    * election, and margin stages are shared ([[marginElection]]) and
    * all run on bounded-heap aggregates, never a per-node window. */
  def bitextMarginPairs(emb: DataFrame, sidePred: Column, k: Int = 4,
      marginThreshold: Double = 1.0): DataFrame = {
    val a = emb.filter(sidePred)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.filter(!sidePred)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val scored = b.crossJoin(broadcast(a))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_emb"), col("b_emb")).as("cos"))
    marginElection(scored, k, marginThreshold)
  }

  /** Candidate-bounded bitext margin mining — the scale form of
    * [[bitextMarginPairs]]: cross-side pairs are generated by
    * [[signBucket]] collision (multi-probe on side A at `probeRadius`=1:
    * the bucket plus every one-bit flip, so near-boundary pairs still
    * meet), then ranked/elected/margin-scored identically via
    * [[marginElection]].
    *
    * 100 TB shape: NO side is broadcast and nothing is all-pairs — both
    * sides shuffle once on the bucket key (side A carries bits+1 rows
    * after probe explode), candidate volume is bounded by bucket
    * collisions exactly like [[lshTopK]], and the downstream top-k /
    * denominators are bounded-heap aggregates. Deterministic buckets, so
    * a SQL oracle replays the whole pipeline hash-exactly — the same
    * contract as the IVF/PQ family. Recall caveat (pairs >1 sign bit
    * apart never score) is the documented LSH trade; the exact all-pairs
    * form above stays as the spec-only verification baseline. */
  def bitextMarginPairsLsh(emb: DataFrame, sidePred: Column, k: Int = 4,
      marginThreshold: Double = 1.0, bits: Int = 4,
      probeRadius: Int = 1): DataFrame = {
    val withBucket =
      emb.withColumn("bucket", signBucket(col("embedding"), bits))
    val a0 = withBucket.filter(sidePred)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("bucket"))
    val a =
      if (probeRadius == 0) a0
      else a0.withColumn("bucket", explode(probeBuckets(col("bucket"), bits)))
    val b = withBucket.filter(!sidePred)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("bucket"))
    // scope-cached: marginElection ranks the scored frame from BOTH ends
    // (per-a and per-b top-k) — uncached, the bucket join and cosines run
    // twice in one plan
    val scored = graft.ops.CacheScope.persist(
      b.join(a, Seq("bucket"))
        .select(col("a_id"), col("b_id"),
          cosine(col("a_emb"), col("b_emb")).as("cos")))
    marginElection(scored, k, marginThreshold)
  }

  /** Shared tail of the bitext miners: rank the scored (a_id, b_id, cos)
    * candidates from both ends, elect mutual-best pairs, and keep those
    * at or above the ratio margin over the two local top-`k` floors.
    *
    * Determinism: the margin `cos / ((sumA/cntA + sumB/cntB) / 2)` is
    * evaluated as ONE ratio of exact quantities —
    * `cos·2·cntA·cntB / (sumA·cntB + sumB·cntA)` with decimal sums — and
    * rounded ONCE at the end. Rounding the per-side averages first (the
    * previous form) lands exactly on 6-dp halfway values whenever a top-k
    * sum divides evenly by 2 or 4, where Spark (decimal-string HALF_UP)
    * and other engines (binary-double rounding) systematically disagree;
    * a generic ratio's 6-dp halfway hit is measure-rare instead. */
  private def marginElection(scored: DataFrame, k: Int,
      marginThreshold: Double): DataFrame = {
    val rankedA = topKPerQuery(scored.select(
      col("a_id").as("query_id"), col("b_id").as("neighbor_id"),
      col("cos")), k)
    val rankedB = topKPerQuery(scored.select(
      col("b_id").as("query_id"), col("a_id").as("neighbor_id"),
      col("cos")), k)
    def denom(r: DataFrame, idOut: String, sOut: String, cOut: String) =
      r.groupBy(col("query_id"))
        .agg(
          sum(col("cos").cast(
            org.apache.spark.sql.types.DecimalType(18, 6))).as(sOut),
          count(lit(1)).as(cOut))
        .select(col("query_id").as(idOut), col(sOut), col(cOut))
    val bestA = rankedA.filter(col("rank") === 1)
      .select(col("query_id").as("a_id"),
        col("neighbor_id").as("b_id"), col("cos"))
    val bestB = rankedB.filter(col("rank") === 1)
      .select(col("query_id").as("b_id"), col("neighbor_id").as("a_id"))
    bestA.join(bestB, Seq("a_id", "b_id"))
      .join(denom(rankedA, "a_id", "sa", "ca"), Seq("a_id"))
      .join(denom(rankedB, "b_id", "sb", "cb"), Seq("b_id"))
      // numerator left-to-right in double (each step exact: 6-dp cos,
      // tiny integer counts); denominator exact in decimal, then one
      // decimal→nearest-double cast — both engines agree bit-for-bit
      .withColumn("margin",
        round(col("cos") * lit(2) * col("ca") * col("cb") /
          (col("sa") * col("cb") + col("sb") * col("ca")).cast("double"), 6))
      .filter(col("margin") >= marginThreshold)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** Sign-bucket key from the first `bits` dimensions: the trivial,
    * fully-deterministic LSH family (hyperplanes = coordinate axes). */
  def signBucket(emb: Column, bits: Int): Column =
    concat_ws("", (0 until bits).map(i =>
      when(element_at(emb, i + 1) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** Seeded random-hyperplane coefficient as a portable INTEGER: the
    * first 4 md5 bytes of "seed:plane:dim" — any engine (including the
    * DuckDB oracle) reconstructs the identical planes from the same
    * string. Coefficient value = h/2^31 − 1 ∈ [−1, 1), exact in double. */
  def hyperplaneCoeffInt(seed: Int, plane: Int, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$seed:$plane:$dim".getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Random-hyperplane family for [[lshTopKHyperplane]] — the proper
    * angle-preserving LSH (SimHash for dense vectors): collision
    * probability is 1 − θ/π per bit, uniformly over directions, unlike
    * [[signBucket]]'s coordinate axes which key on whatever the first
    * `bits` dimensions happen to encode. */
  def randomHyperplanes(
      bits: Int, dim: Int, seed: Int = 42): Array[Array[Double]] =
    Array.tabulate(bits)(i => Array.tabulate(dim)(d =>
      hyperplaneCoeffInt(seed, i, d).toDouble / 2147483648.0 - 1.0))

  /** In-order double dot of a float-array column with literal plane
    * coefficients — same summation order as the oracle's
    * list_dot_product, so bucket signs agree bit-for-bit. */
  private def planeDot(emb: Column, plane: Array[Double]): Column =
    aggregate(
      zip_with(emb, typedLit(plane), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  def hyperplaneBucket(emb: Column, planes: Array[Array[Double]]): Column =
    concat_ws("", planes.map(p =>
      when(planeDot(emb, p) >= 0, lit("1")).otherwise(lit("0"))).toSeq: _*)

  /** Multi-probe expansion: the query's own bucket plus every bucket at
    * Hamming distance 1 (one sign bit flipped). Recall grows ~(bits+1)×
    * candidates for the price of replicating only the QUERY side — the
    * corpus keeps one bucket per vector, so a pair can match at most
    * once (no dedup needed). */
  def probeBuckets(bucket: Column, bits: Int): Column =
    array((bucket +: (0 until bits).map { i =>
      concat(
        substring(bucket, 1, i),
        when(substring(bucket, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(bucket, i + 2, bits - i - 1))
    }): _*)

  /** Johnson–Lindenstrauss random projection: reduce `dim`-wide float
    * embeddings to `dOut` dense double coordinates by projecting onto
    * [[randomHyperplanes]]' md5-seeded directions (same deterministic
    * plane family as the hyperplane LSH, values kept instead of signs).
    * Each output coordinate is rounded to 6 dp so downstream scoring is
    * total-ordered and engine-portable.
    *
    * Scale: a pure per-row projection — dOut×dim literal multiply-adds,
    * no shuffle, no data pass to fit anything — so a 100 TB embedding
    * table reduces in one map stage. At dOut=16 over dim=64 the reduced
    * table is 4× cheaper to store AND 4× cheaper to score, the standard
    * first move before brute-force rerank at cluster scale; the JL bound
    * says pairwise geometry distorts by O(sqrt(log n / dOut)), measured
    * concretely by [[rpRecall]]. */
  def randomProjection(emb: DataFrame, dOut: Int, dim: Int = 64,
      seed: Int = 42): DataFrame = {
    val planes = randomHyperplanes(dOut, dim, seed)
    emb.select(col("vec_id"),
      graft.functions.MatProject.mat_project(col("embedding"), planes)
        .as("reduced"))
  }

  /** [[randomProjection]] composed from built-in HOFs (dOut interpreted
    * folds per row) — the reference implementation [[graft.functions
    * .MatProject]]'s codegen loop is differential-tested against. */
  def randomProjectionHof(emb: DataFrame, dOut: Int, dim: Int = 64,
      seed: Int = 42): DataFrame = {
    val planes = randomHyperplanes(dOut, dim, seed)
    emb.select(col("vec_id"),
      array(planes.toSeq.map(p =>
        round(planeDot(col("embedding"), p), 6)): _*).as("reduced"))
  }

  /** Cosine between two double-array columns (reduced vectors), 6 dp —
    * the [[cosine]] contract minus the float cast (inputs are already
    * double). In-order HOF summation keeps it oracle-portable. */
  private def cosineD(a: Column, b: Column): Column =
    round(dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))), 6)

  /** Recall@k of brute-force top-k in the [[randomProjection]] space
    * against full-dimension top-k — the measurement that prices the JL
    * trade (store/score 4× less vs how many true neighbors survive).
    * Per query: hits = |reduced top-k ∩ exact top-k|, recall = hits/k.
    *
    * Scale: both rankings are broadcast-query-batch × corpus scans with
    * bounded-heap top-k (the [[bruteForceTopK]] shape); the intersection
    * joins two k-row-per-query frames — trivially small. The reduced
    * scan reads dOut doubles per row instead of dim floats, which is the
    * point. */
  def rpRecall(emb: DataFrame, queryPred: Column, k: Int, dOut: Int,
      dim: Int = 64, seed: Int = 42): DataFrame = {
    val exact = bruteForceTopK(emb, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val red = randomProjection(emb, dOut, dim, seed)
    val queries = red.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("reduced").as("q_emb"))
    val corpus = red
      .select(col("vec_id").as("neighbor_id"), col("reduced").as("n_emb"))
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineD(col("q_emb"), col("n_emb")))
    val approx = topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall"))
  }

  /** LSH top-k over seeded random-hyperplane buckets — same join/top-k
    * shape as [[lshTopK]], better-distributed buckets. `dim` must match
    * the embedding width (planes are literals; no data pass needed).
    * `probeRadius` 0 = exact bucket only; 1 = multi-probe all one-bit
    * neighbor buckets (the recall/scan trade at scale). */
  def lshTopKHyperplane(
      emb: DataFrame, queryPred: Column, k: Int,
      bits: Int = 6, dim: Int = 64, seed: Int = 42,
      probeRadius: Int = 0): DataFrame = {
    val planes = randomHyperplanes(bits, dim, seed)
    val withBucket =
      emb.withColumn("bucket", hyperplaneBucket(col("embedding"), planes))
    val queries0 = withBucket.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket"))
    val queries =
      if (probeRadius == 0) queries0
      else queries0
        .withColumn("bucket", explode(probeBuckets(col("bucket"), bits)))
    val corpus = withBucket
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed top-k: candidates restricted to the query's sign bucket.
    * Trades recall for a ~2^bits candidate reduction; the scale path. */
  def lshTopK(
      emb: DataFrame, queryPred: Column, k: Int, bits: Int = 8): DataFrame = {
    val withBucket = emb.withColumn("bucket", signBucket(col("embedding"), bits))
    val queries = withBucket.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket"))
    val corpus = withBucket
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** One MMR-selected result row ([[mmrRerank]]). */
  final case class MmrPick(
      query_id: Long, neighbor_id: Long, mmr_rank: Int,
      rel: Double, score: Double)

  /** Exact replica of the oracle cosine ([[cosine]] / dkCos) in local
    * Scala: in-order double dot products, 6-dp HALF_UP round — used by
    * the [[mmrRerank]] greedy loop so its pairwise similarities are
    * bit-identical to the Catalyst/DuckDB values. Non-finite cosines
    * (zero-norm vectors, outside the embeddings contract) pin to −1,
    * the [[graft.ext.IvfIndex]] convention. */
  private def cosRoundLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var sa = 0.0; var sb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      s += a(i).toDouble * b(i).toDouble
      i += 1
    }
    i = 0
    while (i < a.length) { sa += a(i).toDouble * a(i).toDouble; i += 1 }
    i = 0
    while (i < b.length) { sb += b(i).toDouble * b(i).toDouble; i += 1 }
    val c = s / (math.sqrt(sa) * math.sqrt(sb))
    if (java.lang.Double.isFinite(c))
      java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    else -1.0
  }

  /** Maximal-marginal-relevance diversified top-k: per query, take the
    * brute-force top-`m` shortlist, then greedily select `k` results
    * maximizing `lam·rel(c) − (1−lam)·max_{s∈S} cos(c, s)` — the
    * classic redundancy-penalized rerank (Carbonell & Goldstein 1998)
    * that keeps a near-duplicate-heavy corpus from filling all k slots
    * with one cluster. Rank 1 is pure relevance; ties break on
    * neighbor_id asc at every step.
    *
    * Scale: the candidate stage is [[bruteForceTopK]]'s bounded-heap
    * shape (swap in LSH/IVF candidates at cluster scale); the greedy
    * loop is inherently sequential PER QUERY but bounded — m shortlist
    * rows per group through `flatMapGroups`, O(k·m) local cosines — so
    * it distributes by query exactly like any grouped aggregate and
    * holds m rows of state, never the corpus. Determinism: rel comes
    * from the Catalyst 6-dp cosine; pairwise sims use the bit-identical
    * local replica; `lam` = 0.5 keeps the mixing arithmetic exact in
    * binary, and the DuckDB oracle replays the k unrolled greedy steps
    * hash-exactly. */
  def mmrRerank(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      lam: Double = 0.5): DataFrame = {
    import emb.sparkSession.implicits._
    val short = bruteForceTopK(emb, queryPred, m)
    val withEmb = short.join(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
      "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"),
        col("n_emb"))
    withEmb.groupByKey(r => r.getLong(r.fieldIndex("query_id")))
      .flatMapGroups { (q, it) =>
        final case class C(id: Long, rel: Double, emb: Array[Float])
        val cand = it.map { r =>
          C(r.getLong(r.fieldIndex("neighbor_id")),
            r.getDouble(r.fieldIndex("rel")),
            r.getSeq[Float](r.fieldIndex("n_emb")).toArray)
        }.toArray.sortBy(_.id)
        val selected = scala.collection.mutable.ArrayBuffer.empty[C]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
        var rank = 1
        while (rank <= k && selected.length < cand.length) {
          var best: C = null
          var bestScore = Double.NegativeInfinity
          cand.foreach { c =>
            if (!selected.exists(_.id == c.id)) {
              val score =
                if (selected.isEmpty) c.rel
                else {
                  var msim = Double.NegativeInfinity
                  selected.foreach { s =>
                    val cs = cosRoundLocal(c.emb, s.emb)
                    if (cs > msim) msim = cs
                  }
                  lam * c.rel - (1 - lam) * msim
                }
              // strict > : on ties the earlier (smaller-id) candidate
              // wins, matching the oracle's (score DESC, id ASC) order
              if (score > bestScore) { best = c; bestScore = score }
            }
          }
          selected += best
          out += MmrPick(q, best.id, rank, best.rel, bestScore)
          rank += 1
        }
        out
      }.toDF()
  }

  /** Per-label centroids, emitted flat as (label, dim, value): posexplode →
    * grouped mean — one shuffle on (label, dim), no list-ordering
    * dependence in the result. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      // decimal sum, not avg(double): double summation is order-sensitive
      // and a cluster re-shuffle would change the last bits; DECIMAL(38,9)
      // addition is exact (float→double is exact, double→9-dp rounding is
      // the same on every engine), so centroids are bit-reproducible
      .agg(round(
        sum(col("v").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
          .cast("double") / count(lit(1)), 6).as("centroid_v"))

  /** SEMANTIC OUTLIERS per source — the off-topic detector of a corpus
    * curation pass (the complement of SemDeDup: that removes docs too
    * CLOSE to each other, this surfaces docs too FAR from their
    * source's center): each source's embedding centroid (exact
    * decimal-mean components, 6 dp — the [[labelCentroids]]
    * determinism), then every doc's cosine to ITS OWN source centroid,
    * and the k lowest-cosine docs per source via the grouped bounded
    * heap. What a data curator reads to find mislabeled scrapes,
    * boilerplate, or injected spam inside an otherwise-coherent
    * source.
    *
    * Scale: centroids are a (source, dim)-keyed hash agg (bounded by
    * sources × dims) assembled into per-source vectors (one row per
    * source) that BROADCAST back onto the corpus; the cosine is a
    * per-row projection (the left-assoc HOF fold — the doc side is
    * float, the centroid side double, so the codegen float-dot does
    * not apply and the interpreted fold is the reference semantics
    * both engines share); ranking is the grouped bounded heap — ≤k
    * rows per (source, partition) cross the shuffle, never the
    * corpus. Ties: equal 6-dp cosine breaks on vec_id AS STRING asc
    * (the heap's key order), mirrored in the oracle window. */
  def sourceOutliers(emb: DataFrame, docs: DataFrame, k: Int = 5)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val j = graft.ops.CacheScope.persist(
      emb.select(col("vec_id"), col("embedding"))
        .join(docs.select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
        .select(col("source"), col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e")))
    val cent = j
      .select(col("source"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy(col("source"), col("dim"))
      .agg(round(sum(col("v").cast(DecimalType(38, 9))).cast("double")
        / count(lit(1)), 6).as("cv"))
    val cvec = cent.groupBy(col("source"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("c"))
    def dotH(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x)
    val scored = j.join(broadcast(cvec), Seq("source"))
      .select(col("source"), col("vec_id"),
        round(dotH(col("e"), col("c"))
          / (sqrt(dotH(col("e"), col("e")))
            * sqrt(dotH(col("c"), col("c")))), 6).as("cos"))
    scored.groupBy(col("source"))
      .agg(graft.functions.TopKAgg.top_k_str(
        -col("cos"), col("vec_id").cast("string"), k).as("tk"))
      .select(col("source"), explode(col("tk")).as("t"))
      .select(col("source"), col("t.rank").as("rank"),
        col("t.key").cast("long").as("vec_id"),
        (-col("t.score")).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs within sign buckets: the
    * embedding-space analogue of MinHash near-dedup.
    *
    * Skew guard: real embeddings cluster, so one hot sign bucket can hold
    * a large fraction of the corpus and the within-bucket self-join
    * reverts to n² ON ONE TASK. A cheap per-bucket count (≤2^bits rows,
    * broadcast back) decides a salt factor `s = ⌈|bucket|/maxBucketRows⌉`;
    * the left side partitions its rows across `s` salts (`id mod s`) and
    * the right side replicates to every salt — the standard skew-join
    * replication, preserving EXACTLY the all-pairs-within-bucket result
    * while bounding per-task work to O(maxBucketRows·|bucket|) across `s`
    * parallel tasks instead of O(|bucket|²) on one. */
  def cosineNearDups(
      emb: DataFrame, threshold: Double, bits: Int = 8,
      maxBucketRows: Long = 100000L): DataFrame = {
    // scope-cached: three consumers (the salt-count aggregate and BOTH
    // self-join sides, whose projections differ so no exchange reuse
    // applies) — uncached, the full embedding column is scanned and
    // sign-bucketed three times in one plan
    val withBucket = graft.ops.CacheScope.persist(
      emb.withColumn("bucket", signBucket(col("embedding"), bits)))
    val salts = withBucket.groupBy("bucket")
      .agg(ceil(count(lit(1)).cast("double") / maxBucketRows)
        .cast("int").as("nsalt"))
    val a = withBucket.join(broadcast(salts), Seq("bucket"))
      .select(col("bucket"),
        pmod(col("vec_id"), col("nsalt").cast("long")).cast("int").as("salt"),
        col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = withBucket.join(broadcast(salts), Seq("bucket"))
      .select(col("bucket"),
        explode(sequence(lit(0), col("nsalt") - 1)).as("salt"),
        col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("bucket", "salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): group
    * embeddings whose cosine similarity reaches `threshold` into
    * connected components and keep one representative (the minimum id)
    * per component — the embedding-space analogue of the MinHash →
    * components → representatives chain for text.
    *
    * Returns (vec_id, rep_id, keep) for every input vector.
    *
    * Candidate generation inherits [[cosineNearDups]]'s contract: pairs
    * are found within sign buckets (first-`bits` coordinate hyperplanes,
    * skew-salted) — deterministic and join-pruned, with the same
    * bucket-boundary recall caveat, and the same n² upper bound INSIDE a
    * bucket. Components then run on the bounded pair set
    * ([[TextDedup.connectedComponents]], min-label propagation). */
  def semanticDedup(emb: DataFrame, threshold: Double, bits: Int = 8,
      maxBucketRows: Long = 100000L): DataFrame = {
    val pairs = cosineNearDups(emb, threshold, bits, maxBucketRows)
    TextDedup.connectedComponents(emb.select(col("vec_id")), "vec_id", pairs)
      .select(col("vec_id"), col("rep_id"),
        (col("vec_id") === col("rep_id")).as("keep"))
  }

  /** Embedding-level eval contamination: corpus vectors whose cosine to
    * ANY eval-set vector reaches `threshold`, each with its best-matching
    * eval id — the SEMANTIC companion to the lexical n-gram
    * decontamination (`TextDedup.contamination`), which paraphrased or
    * re-tokenized benchmark leaks walk straight past.
    *
    * Returns (corpus_id, eval_id, cos): one row per contaminated corpus
    * vector, eval_id = its highest-cosine eval match (ties → smaller id,
    * the TopKAgg total order).
    *
    * Scale shape: candidates come from sign-bucket collision exactly like
    * [[lshTopK]] — both sides shuffle once on the bucket key, no eval
    * broadcast required by the plan (Catalyst broadcasts the small eval
    * side below threshold on its own), no all-pairs; the per-corpus-doc
    * best match is the bounded-heap [[graft.functions.TopKAgg]] at k=1
    * (map-side partials, no per-key window). Deterministic buckets and
    * 6-dp cosine, so the DuckDB oracle replays the pipeline hash-exactly
    * — the approximation is oracle-checked, not oracle-hidden (the
    * IVF/PQ contract). Bucket-boundary recall caveat as documented on
    * [[signBucket]]. */
  def semanticContamination(emb: DataFrame, evalPred: Column,
      threshold: Double, bits: Int = 4): DataFrame = {
    val withBucket = emb.withColumn("bucket", signBucket(col("embedding"), bits))
    val ev = withBucket.filter(evalPred)
      .select(col("bucket"), col("vec_id").as("neighbor_id"),
        col("embedding").as("e_emb"))
    val corpus = withBucket.filter(!evalPred)
      .select(col("bucket"), col("vec_id").as("query_id"),
        col("embedding").as("c_emb"))
    val scored = corpus.join(ev, Seq("bucket"))
      .withColumn("cos", cosine(col("c_emb"), col("e_emb")))
      .filter(col("cos") >= threshold)
    topKPerQuery(scored, 1)
      .select(col("query_id").as("corpus_id"),
        col("neighbor_id").as("eval_id"), col("cos"))
  }

  /** Exact integer dot product of two int8 code arrays (≤ 127² per term,
    * sums exact in long for any realistic dimensionality) — the native
    * codegen'd [[graft.functions.VecDot]]; integer addition is
    * associative-exact so it is identical to the HOF
    * `aggregate(zip_with(...))` form it replaced (differential-tested in
    * ExtSpec), just without the per-pair array allocation and
    * interpreted lambda dispatch in the corpus-scan scoring loop. */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VecDot.int_dot(a, b)

  /** The interpreted HOF reference form of [[intDot]] (spec baseline). */
  def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** ANN top-k over int8-quantized codes, the compressed-scoring shape
    * every production vector store uses (and [[PqIndex]]'s simpler
    * sibling): stage 1 scores the WHOLE corpus with the integer code dot
    * scaled by the two quantization scales — a quarter of the bytes of
    * float scoring, exact int64 arithmetic — keeping an oversampled
    * shortlist per query via the bounded heap; stage 2 re-ranks only the
    * shortlist with exact float cosines. Both stages deterministic, so
    * the full pipeline replays in the DuckDB oracle. */
  def int8TopK(emb: DataFrame, queryPred: Column, k: Int,
      oversample: Int = 4): DataFrame = {
    val coded = emb
      .select(col("vec_id"), col("embedding"),
        int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        quantizeInt8(col("embedding"), col("scale")).as("q"))
    val queries = coded.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("scale").as("q_scale"),
        col("q").as("q_codes"))
    val scored = coded
      .select(col("vec_id").as("neighbor_id"), col("scale").as("n_scale"),
        col("q").as("n_codes"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("q_scale") * col("n_scale") *
          intDot(col("q_codes"), col("n_codes")), 6).as("cos"))
    val shortlist = topKPerQuery(scored, k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val qVecs = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val reranked = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
    topKPerQuery(reranked, k)
  }

  /** Per-vector symmetric int8 quantization scale: max|x| / 127. */
  def int8Scale(emb: Column): Column =
    aggregate(emb, lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double")))) / lit(127.0)

  /** Symmetric int8 quantization of a float-vector column — the standard
    * 4× storage/bandwidth compression for ANN candidate scoring (scores
    * on int8 codes, exact re-rank on the float originals — the same
    * two-tier shape as [[PqIndex]]). Zero vectors quantize to zeros
    * (guarded on both engines rather than dividing by a zero scale).
    * Pure projection: no shuffle, embarrassingly parallel.
    *
    * `scale` must be a PRE-PROJECTED column ([[int8Scale]]): HOF lambdas
    * run interpreted with no common-subexpression elimination, so
    * inlining the O(d) scale fold inside the per-element lambda would
    * make quantization O(d²) per vector. */
  def quantizeInt8(emb: Column, scale: Column): Column =
    transform(emb, x =>
      when(scale === 0.0, lit(0))
        .otherwise(round(x.cast("double") / scale).cast("int")))

  /** Per-dimension standardization (z-score whitening) of an embedding
    * column — the preprocessing step before PQ/IVF training that stops
    * high-variance dimensions from dominating every subspace distance
    * (and the fix for the collapsed/scale-drifted dimensions
    * `ext_emb_dim_stats` localizes). Two passes: ONE corpus aggregate
    * produces all per-dim (mean, std) rows (the emb-dim-stats shapes:
    * posexplode → hash agg on the 64-value dim key, exact decimal
    * sums), assembled into a single array row and broadcast; the
    * projection then rides `zip_with(embedding, stats)` — stateless,
    * codegen, no second shuffle.
    *
    * Output is the 6-dp z vector as a FIXED-POINT comma string (the
    * multimodal-resize rendering: round(z·10^6) per cell, 'n' for
    * zero-variance dims) so the result hash-checks through pandas.
    * Determinism: mean/variance through DECIMAL(38,12) sums with the
    * exact `ext_emb_dim_stats` parenthesization; z = (v−mu)/sd on
    * bit-identical doubles, rounded 6 dp before the fixed-point
    * rendering. */
  def standardizeEmbeddings(emb: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    import graft.Det
    val stats = emb
      .select(posexplode(col(embCol)).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        Det.dsumWide(col("v")).as("sx"),
        Det.dsumWide(col("v") * col("v")).as("sxx"))
      .select(col("dim"),
        round(col("sx") / col("n"), 6).as("mu"),
        round(sqrt(round(
          (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"),
          6)), 6).as("sd"))
    val arr = stats.agg(
      transform(
        array_sort(collect_list(struct(col("dim"), col("mu"), col("sd")))),
        x => struct(x.getField("mu").as("mu"), x.getField("sd").as("sd")))
        .as("st"))
    emb.crossJoin(broadcast(arr))
      .select(col(idCol),
        concat_ws(",", zip_with(col(embCol), col("st"), (v, s) =>
          when(s.getField("sd") > 0.0,
            round(round((v.cast("double") - s.getField("mu"))
              / s.getField("sd"), 6) * 1000000).cast("long").cast("string"))
            .otherwise(lit("n")))).as("z_fp"))
  }
}
