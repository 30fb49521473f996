package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-size sketch operators for corpus statistics at 100 TB scale —
  * companions to the KMV distinct sketch ([[graft.functions.KmvAgg]]).
  *
  * Everything is md5-based / integer-arithmetic so each sketch is
  * engine-reproducible: the DuckDB oracle rebuilds the SAME counters and
  * the SAME estimates, hash-matched exactly (no engine-private hash, no
  * RNG).
  */
object Sketches {

  /** Count-Min-Sketch bucket indices for one key under `d` universal
    * hash rows of width `w`: h_r(x) = ((a_r·md5_32(x) + b_r) mod p) mod w,
    * reusing the MinHash coefficient family (products stay inside int64:
    * a < 2^30, md5_32 < 2^32). */
  private[graft] def cmsBuckets(key: Column, d: Int, w: Int): Seq[Column] = {
    require(d <= TextDedup.minhashA.length, s"at most ${TextDedup.minhashA.length} rows")
    val base = TextDedup.baseHash(key)
    (0 until d).map { r =>
      pmod(pmod(lit(TextDedup.minhashA(r)) * base + lit(TextDedup.minhashB(r)),
        lit(TextDedup.minhashP)), lit(w.toLong))
    }
  }

  /** Bloom BITMAP over a key column: `mBits` bits as mBits/64 longs,
    * `numHashes` universal hashes per key (the MinHash coefficient
    * family via [[cmsBuckets]]), built distributed (per-word bit_or
    * aggregate) and collected once — ≤ mBits/64 longs, 8 KB at the
    * default m: the tiny-stats exception to the no-collect rule. Ship
    * it to tasks as ONE `typedLit` array literal and test membership
    * with [[bloomMemberExpr]]. No false negatives ever; false
    * positives only admit rows a downstream exact step re-checks. */
  def bloomBitmap(keys: DataFrame, keyCol: String,
      mBits: Int, numHashes: Int): Array[Long] = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val words = keys
      // a NULL key hashes to NULL probes and would NPE the driver
      // unboxing the null word index; membership semantics match the
      // semi-join's (NULL never matches), so dropping is correct
      .filter(col(keyCol).isNotNull)
      .select(explode(array(
        cmsBuckets(col(keyCol), numHashes, mBits): _*)).as("p"))
      .select(shiftright(col("p"), 6).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
      .collect()
    val bitmap = Array.fill(mBits / 64)(0L)
    words.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    bitmap
  }

  /** Membership predicate against a [[bloomBitmap]] literal: AND over
    * the `numHashes` probe COLUMNS `pCols` (pre-projected
    * [[cmsBuckets]] values) tested bit-wise against the array column
    * `bmCol`. expr strings because shiftright-by-column has no Scala
    * DSL form. */
  def bloomMemberExpr(bmCol: String, pCols: Seq[String]): Column =
    pCols.map { p =>
      expr(s"""(shiftright(
        element_at($bmCol, CAST(shiftright($p, 6) AS INT) + 1),
        CAST($p % 64 AS INT)) & 1) = 1""")
    }.reduce(_ && _)

  /** Count-Min-Sketch frequency counters over one key column: a d×w
    * counter matrix as (r, bucket, c) rows — at most d·w rows TOTAL
    * regardless of corpus size, built by one hash aggregate with map-side
    * partials (counter matrices merge by addition, which IS partial
    * aggregation). This is the 100 TB shape for "approximate term
    * frequencies": the full exact vocabulary count shuffles every
    * distinct term; the sketch shuffles d·w longs. */
  def cmsCounters(keyed: DataFrame, keyCol: String, d: Int, w: Int): DataFrame =
    keyed.select(posexplode(array(cmsBuckets(col(keyCol), d, w): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** CMS point estimate per probe key: min over the d counters the key
    * hashes into. The counter matrix is broadcast (≤ d·w rows), so the
    * probe side streams map-side — no shuffle beyond the final tiny
    * per-key agg. Estimates NEVER undercount (each counter ≥ the true
    * count); overcount is bounded by collisions (≤ e/w · N with prob
    * 1 − e^−d, Cormode & Muthukrishnan 2005). */
  def cmsEstimate(probes: DataFrame, keyCol: String, counters: DataFrame,
      d: Int, w: Int): DataFrame = {
    val others = probes.columns.filterNot(_ == keyCol).map(col).toSeq
    probes.select((col(keyCol) +: others) :+
        posexplode(array(cmsBuckets(col(keyCol), d, w): _*))
          .as(Seq("r", "bucket")): _*)
      // LEFT join: a probe key absent from the corpus can hash into a
      // bucket no corpus key touched — that counter row doesn't exist,
      // and an inner join would silently drop it, turning the true CMS
      // estimate of 0 into min-over-the-nonempty-subset (or losing the
      // key entirely when all d buckets are empty)
      .join(broadcast(counters), Seq("r", "bucket"), "left")
      .groupBy((col(keyCol) +: others): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_count"))
  }

  /** Heavy-hitter scan over document tokens: CMS estimate next to the
    * exact count for every vocabulary term, keeping terms whose estimate
    * reaches `minCount`. CMS guarantees the result is a SUPERSET of the
    * true heavy hitters (no false negatives — estimates only overcount),
    * which is the useful direction for candidate generation. The exact
    * count rides along here to exhibit that bound; a production probe
    * would skip it and verify only the survivors. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
      d: Int = 4, w: Int = 64, minCount: Long = 900): DataFrame = {
    val toks = graft.ops.CacheScope.persist(
      docs.select(explode(TextStats.tokens(lower(col(textCol)))).as("tok")))
    val counters = cmsCounters(toks, "tok", d, w)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
    cmsEstimate(vocab, "tok", counters, d, w)
      .filter(col("cms_count") >= minCount)
      .select(col("tok"), col("cms_count"), col("exact_count"))
  }

  /** Deterministic weighted sampling without replacement (sequential
    * Poisson / order sampling, Ohlsson 1998): priority = u / weight with
    * u = (md5_32(id)+1)/2^32, keep the k smallest priorities. Inclusion
    * probability is approximately proportional to weight, and — unlike
    * `rand()`-based sampling — the sample is stable across runs, engines,
    * and cluster layouts, so downstream training subsets are
    * reproducible. Priorities are pure IEEE arithmetic (no ln/exp), so
    * they are bit-identical in any engine.
    *
    * Scale: reuses the bounded-heap [[graft.functions.TopKAgg]] — each
    * map task keeps k rows, the exchange carries k rows per partition,
    * never a global sort. */
  /** Grouped mergeable quantile estimate from a bounded equi-width
    * histogram: per `groupCol`, bucket the integer-valued `valCol` at
    * `width`, then read each requested quantile off the cumulative
    * histogram with linear interpolation inside the crossing bucket
    * (inverse-CDF over the histogram — the classic mergeable-quantile
    * shape: the sketch IS the (bucket, count) map, combined map-side by
    * the hash aggregate, so no sort of the raw values ever happens).
    *
    * Estimate contract: for quantile q over n values, target = q·n;
    * the crossing bucket is the FIRST with cumulative count ≥ target,
    * and est = lo + width·(target − cum_before)/cnt — error bounded by
    * `width` by construction (spec-pinned against the exact quantile).
    * All arithmetic is integer counts + one double divide, so the
    * DuckDB oracle replays it exactly.
    *
    * Scale: one hash aggregate on (group, bucket) with map-side
    * combine; the cumulative window runs over BUCKETS per group
    * (value-range/width rows, bounded by construction), never rows —
    * quantiles of a 100 TB column for the price of a word-count. */
  def histogramQuantiles(df: DataFrame, valCol: Column, groupCol: String,
      width: Int, qs: Seq[Double]): DataFrame = {
    val hist = df.select(col(groupCol), valCol.cast("long").as("v"))
      .withColumn("bucket", col("v") - (col("v") % width))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    quantileReadoff(hist, groupCol, width, qs)
  }

  /** Inverse-CDF read-off over a PREBUILT (group, bucket, cnt)
    * histogram frame — split out of [[histogramQuantiles]] so the
    * streaming twin can apply the identical read-off to DRAINED
    * micro-batch state (the histogram is the mergeable sketch; the
    * read-off is query-time post-processing over the bounded
    * group×bucket grain, which is exactly how a production dashboard
    * serves quantiles from streamed counters). The cumulative window
    * runs over buckets per group — bounded by value-range/width — never
    * over rows. */
  def quantileReadoff(hist: DataFrame, groupCol: String,
      width: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(groupCol).orderBy("bucket")
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(groupCol)))
    val cand = cum
      .withColumn("q", explode(array(qs.map(lit(_)): _*)))
      .withColumn("target", col("q") * col("n"))
      .filter(col("cum") >= col("target"))
    cand.groupBy(col(groupCol), col("q"))
      .agg(min_by(struct(col("bucket"), col("cnt"), col("cum"), col("n"),
        col("target")), col("bucket")).as("c"))
      .select(col(groupCol), col("q"), col("c.n").as("n"),
        round(col("c.bucket")
          + lit(width) * (col("c.target") - (col("c.cum") - col("c.cnt")))
            / col("c.cnt"), 6).as("est"))
  }

  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    val u = (TextDedup.baseHash(col(idCol).cast("string")) + 1)
      .cast("double") / lit(4294967296.0)
    val pri = u / col(weightCol).cast("double")
    // weight <= 0 is excluded EXPLICITLY: a negative weight would flip
    // the priority sign and hijack rank 1, and weight = 0 divides to
    // NULL under non-ANSI Spark but +inf in other engines — both
    // meaningless under "inclusion probability proportional to weight"
    df.filter(col(weightCol) > 0)
      .select(col(idCol).cast("long").as("id"), pri.as("pri"))
      .agg(graft.functions.TopKAgg.top_k(negate(col("pri")), col("id"), k)
        .as("picks"))
      .select(explode(col("picks")).as("p"))
      .select(col("p.rank").as("rank"), col("p.id").as(idCol),
        negate(col("p.score")).as("priority"))
  }

  /** Materialize sampler draws against a cumulative-range table (the
    * consumer of `ext_negative_sampling_table`'s half-open [lo, hi)
    * ranges): each uniform `u` matches the ONE range containing it.
    *
    * Scale: a naive range join is O(|vocab|) per draw under a nested
    * loop. Instead the unit interval is cut into `buckets` equal cells;
    * each table range explodes to the cells it overlaps (vocab-bounded
    * ×~2 rows — still broadcastable), each draw keys to its single cell
    * (`floor(u·B)`), and the lookup is a broadcast EQUI-join on the
    * cell plus the exact range filter — candidates per draw ≈
    * |vocab|/B + 1, and billions of draws stream map-side with no
    * shuffle (the band-join/LSH bucketing idiom applied to alias-table
    * sampling). Completeness: floor(u·B) is monotone, so lo ≤ u < hi
    * implies floor(lo·B) ≤ floor(u·B) ≤ floor(hi·B) — the exploded
    * cells can only over-cover, never miss; the residual filter is
    * exact. */
  def sampleFromCumTable(draws: DataFrame, uCol: String, table: DataFrame,
      loCol: String, hiCol: String, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "sampleFromCumTable: buckets must be positive")
    val exploded = table.withColumn("__bk",
      explode(sequence(
        floor(col(loCol) * buckets).cast("int"),
        least(floor(col(hiCol) * buckets).cast("int"),
          lit(buckets - 1)))))
    val keyed = draws.withColumn("__bk",
      least(floor(col(uCol) * buckets).cast("int"), lit(buckets - 1)))
    keyed.join(broadcast(exploded),
      keyed("__bk") === exploded("__bk")
        && col(loCol) <= col(uCol) && col(uCol) < col(hiCol))
      .drop("__bk")
  }

  /** KMV set algebra over per-group sketches: estimated Jaccard,
    * union and intersection cardinalities for every GROUP PAIR, from
    * the k-minimum-value sketches ALONE (Beyer et al. 2007) — the
    * cross-feed overlap matrix without any joint pass over the data:
    * union sketch = the k smallest of K(A) ∪ K(B); Jaccard = the share
    * of the union sketch present in BOTH input sketches; intersection
    * = Jaccard × union estimate.
    *
    * Scale: `sketches` is one row per group (k longs each — an
    * aggregate output), so the pair fan-out is a bounded broadcast self
    * cross (G² pairs of k-element arrays), and all the set math is
    * per-pair array arithmetic — the full corpora are never rescanned
    * or joined. Determinism: arrays are sorted distinct hashes, counts
    * are exact ints, and the two ratios round at 6 dp with the
    * [[graft.ops.IncrementalAgg.kmvEstimate]] arithmetic for the union
    * size. */
  def kmvPairOverlap(sketches: DataFrame, groupCol: String,
      sketchCol: String, k: Int): DataFrame = {
    val a = sketches.select(col(groupCol).as("group_a"),
      col(sketchCol).as("ska"))
    val b = sketches.select(col(groupCol).as("group_b"),
      col(sketchCol).as("skb"))
    val ku = slice(
      array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k)
    val nInter = size(filter(col("ku"), x =>
      array_contains(col("ska"), x) && array_contains(col("skb"), x)))
    a.crossJoin(broadcast(b))
      .filter(col("group_a") < col("group_b"))
      .withColumn("ku", ku)
      .withColumn("jaccard",
        round(nInter.cast("double") / size(col("ku")), 6))
      .withColumn("union_est",
        graft.ops.IncrementalAgg.kmvEstimate(col("ku"), k))
      .withColumn("intersect_est",
        round(col("jaccard") * col("union_est"), 6))
      .select(col("group_a"), col("group_b"), col("jaccard"),
        col("union_est"), col("intersect_est"))
  }
}
