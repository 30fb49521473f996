package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Corpus-curation selection operators: per-domain caps and canonical-doc
  * selection inside near-duplicate clusters. Both are selection policies a
  * large-scale training-data pipeline applies AFTER the signal/cluster
  * stages ([[TextStats]] quality, [[TextDedup]] components) — kept here so
  * the policies stay separate from the signals they rank on.
  */
object Curation {

  /** Per-source document cap (the RefinedWeb/C4 per-domain cap): keep at
    * most `k` documents per `sourceCol`, ranked by quality score
    * descending with id ascending as the tie-break.
    *
    * Scale shape: `groupBy(source).agg(top_k(...))` rides the bounded-heap
    * [[graft.functions.TopKAgg]] — each map task keeps a k-element heap
    * per source, so the exchange carries ≤ k rows per (source, partition)
    * no matter how many documents a hot domain has. The window-rank form
    * (`row_number().over(partitionBy(source))`) would funnel every row of
    * a hot domain through one reducer — the skew this cap exists to tame
    * is exactly the skew that kills that plan.
    *
    * Returns (source, id, quality, rank), rank 1 = best kept doc.
    */
  def sourceCap(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, k: Int): DataFrame = {
    val scored = docs.select(col(sourceCol), col(idCol).cast("long").as("id"),
      TextStats.qualityScore(col(textCol)).as("quality"))
    scored.groupBy(col(sourceCol))
      .agg(graft.functions.TopKAgg.top_k(
        col("quality"), col("id"), k).as("top"))
      .select(col(sourceCol), explode(col("top")).as("t"))
      .select(col(sourceCol), col("t.id").as(idCol),
        col("t.score").as("quality"), col("t.rank").as("rank"))
  }

  /** Deterministic source mixing (the static-weights half of
    * DoReMi/Pile-style domain reweighting): given target mixture weights
    * per source and a global budget (in `weightCol` units — tokens,
    * chars), compute each source's acceptance rate
    * `min(1, budget·w_s / available_s)` and keep documents by a
    * deterministic per-doc coin: `u(id) < rate`, with
    * `u = (md5_32("mix:" || id) + 1) / 2^32` — the [[Sketches]] uniform,
    * salted so the coin is independent of every other md5-keyed decision
    * in the pipeline (an unsalted hash would correlate mixing with hash
    * splits and dedup keys).
    *
    * Undersupplied sources (rate capped at 1) keep everything —
    * upweighting beyond availability is epoch repetition, a trainer
    * concern, not a selection one.
    *
    * Scale shape: one per-source aggregate (20-ish rows), broadcast back,
    * then a stateless filter — no global sort, no window, layout- and
    * run-stable output. Rates are 6-dp-rounded so the accept verdicts
    * hash-match across engines. */
  def mixSources(docs: DataFrame, idCol: String, sourceCol: String,
      weightCol: String, targets: Map[String, Double], budget: Long)
      : DataFrame = {
    val rates = docs.groupBy(col(sourceCol))
      .agg(sum(col(weightCol)).cast("double").as("avail"))
      .select(col(sourceCol),
        round(least(lit(1.0),
          targets.foldLeft(lit(0.0)) { case (acc, (src, w)) =>
            when(col(sourceCol) === src, lit(budget) * lit(w) / col("avail"))
              .otherwise(acc)
          }), 6).as("rate"))
    val u = (TextDedup.baseHash(
      concat(lit("mix:"), col(idCol).cast("string"))) + 1)
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(u < col("rate"))
      .select(col(idCol), col(sourceCol), col(weightCol), col("rate"))
  }

  /** Temperature-scaled source resampling — the dynamic-weights half of
    * domain reweighting (the multilingual-LM "alpha sampling" rule):
    * source weights are derived FROM the corpus itself as
    * `w_s ∝ p_s^alpha` (p_s = source share of `weightCol` supply), then
    * materialized at a token budget of `budgetFraction` × total supply.
    * `alpha < 1` flattens the distribution — low-resource sources
    * resample above 1 epoch, high-resource ones below.
    *
    * Unlike [[mixSources]] (user-given weights, rate capped at 1, pure
    * selection), rates here EXCEED 1 and materialize as epoch
    * repetition: `n_copies = floor(rate) + [u < frac(rate)]` with the
    * salted md5 coin, so expected copies = rate exactly. Rows with
    * n_copies = 0 are the downsampled discards and are dropped.
    *
    * Scale shape: one per-source aggregate (source-cardinality rows) →
    * two 1-row reductions ride along → broadcast back → stateless
    * per-doc projection. No window, no global sort; a trainer expands
    * `n_copies` downstream (sequence packing already handles repeats).
    *
    * Determinism: p and rate divisions are IEEE on bit-identical
    * inputs; `pow` output and the final rate are 6-dp-rounded; the
    * weight normalizer sums 6-dp values through exact DECIMAL(38,6). */
  def temperatureResample(docs: DataFrame, idCol: String, sourceCol: String,
      weightCol: String, alpha: Double = 0.3,
      budgetFraction: Double = 1.0): DataFrame = {
    // source-cardinality rows, but its LINEAGE is a full corpus scan and
    // four downstream branches (tot, w0, wsum, rates) consume it — without
    // the persist each broadcast branch re-scans the corpus
    val sup = graft.ops.CacheScope.persist(docs.groupBy(col(sourceCol))
      .agg(sum(col(weightCol)).cast("double").as("avail")))
    val tot = sup.agg(
      sum(col("avail").cast(DecimalType(38, 6))).cast("double").as("tot"))
    val w0 = sup.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("avail"), col("tot"),
        round(pow(col("avail") / col("tot"), lit(alpha)), 6).as("w0"))
    val wsum = w0.agg(
      sum(col("w0").cast(DecimalType(38, 6))).cast("double").as("wsum"))
    val rates = w0.crossJoin(broadcast(wsum))
      .select(col(sourceCol),
        round(lit(budgetFraction) * col("tot") * (col("w0") / col("wsum"))
          / col("avail"), 6).as("rate"))
    val u = (TextDedup.baseHash(
      concat(lit("tmix:"), col(idCol).cast("string"))) + 1)
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("rate"),
        (floor(col("rate")) +
          when(u < col("rate") - floor(col("rate")), 1).otherwise(0))
          .cast("int").as("n_copies"))
      .filter(col("n_copies") > 0)
  }

  /** Rank calibration: map a raw per-document score onto `bins`
    * equal-population percentile bins (bin 0 = bottom decile at the
    * default 10). Raw classifier margins are incomparable across model
    * versions; percentile bins are the stable currency quality gates
    * and mixture policies are written in ("drop the bottom 20%").
    *
    * Cut points use percentile_disc — actual DATA values, so the cuts
    * are bit-identical cross-engine with no interpolation arithmetic —
    * and `bin(v) = |{cuts ≤ v}|`, a pure function of (v, cuts): ties
    * collapse into the same bin deterministically (equal-population is
    * approximate under heavy ties, exact without them).
    *
    * Scale shape: ONE aggregate produces all bins-1 cuts, broadcast
    * back as a single array row; binning is a stateless codegen'd
    * projection. `exactCuts = false` swaps percentile_disc for
    * approx_percentile (mergeable Greenwald-Khanna sketches, map-side
    * partials) — same schema, cuts within the sketch's rank-error
    * bound.
    *
    * Exact-cut plan choice (the `q_rfm_segments` adjudication rule —
    * the distributed path is for UNBOUNDED distinct supports only):
    * `boundedDistinct = true` certifies the score column's distinct
    * support is bounded independent of corpus size (a 6-dp quality in
    * [0,1] has ≤ 10⁶+1 distinct values; an integer doc length is
    * bounded by the longest doc) — then the cuts run as one aggregate
    * NODE holding bins−1 percentile_disc expressions, each buffering
    * its own value→count map (Spark's PercentileBase aggregates an
    * OpenHashMap keyed by DISTINCT value, not a row buffer): the
    * reducer's footprint is (bins−1)·distinct-support entries — a
    * small constant times a bounded quantity, still bounded at any
    * row count (the honest accounting: ~7 MB at bins = 8 over a full
    * 6-dp grid, vs the distributed path's 5 extra stages).
    * Unbounded supports (raw money/float scores) keep the default
    * distributed rank-selection ([[graft.ext.Stats.distDiscPercentiles]]
    * — two-phase prefix sums, no single-task value map). Both paths
    * produce the SAME percentile_disc data values; the choice is
    * purely physical. */
  def percentileBins(scored: DataFrame, valueCol: String, idCol: String,
      bins: Int = 10, exactCuts: Boolean = true,
      boundedDistinct: Boolean = false): DataFrame = {
    require(bins >= 2, "percentileBins: need at least 2 bins")
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val cuts =
      if (exactCuts && boundedDistinct)
        scored.agg(array(qs.map(q =>
          expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY $valueCol)")): _*)
          .as("cuts"))
      else if (exactCuts) {
        val names = (1 until bins).map(i => s"__c$i")
        graft.ext.Stats.distDiscPercentiles(
          scored.select(col(valueCol)), valueCol,
          (1 until bins).map(i => (i, bins)), names)
          .select(array(names.map(col): _*).as("cuts"))
      }
      else scored.agg(
        approx_percentile(col(valueCol).cast("double"),
          array(qs.map(lit): _*), lit(10000)).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col(valueCol),
        size(filter(col("cuts"), c => c <= col(valueCol))).as("bin"))
  }

  /** Canonical-document selection per near-duplicate cluster: label the
    * corpus with [[TextDedup.connectedComponents]] over MinHash-LSH pairs,
    * then keep the highest-quality member of every component (ties → the
    * lowest doc id; quality is 6-dp-rounded so ties are exact, not
    * float-fuzzy).
    *
    * Returns one row per component: (rep_id, keep_id, quality,
    * n_members). `keep_id` is the doc to retain; every other member is
    * the near-dup discard set.
    *
    * Scale shape: both aggregations and the filter-back join key on
    * `rep_id` — one shuffle partitioning reused across the max, the
    * argmin and the member count (exchange reuse); no windows. The
    * max-then-argmin pair is the deterministic replacement for
    * `max_by` (whose tie behavior is undefined).
    */
  def keepBestInComponent(docs: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = TextDedup.connectedComponents(docs, idCol, pairs)
    val scored = docs.select(col(idCol),
      TextStats.qualityScore(col(textCol)).as("q"))
    // scope-cached: feeds both the per-component max aggregate and the
    // final join — uncached, the docs scan + quality projection + label
    // join would execute twice in one plan
    val labeled = graft.ops.CacheScope.persist(comps.join(scored, Seq(idCol)))
    val best = labeled.groupBy(col("rep_id"))
      .agg(max(col("q")).as("quality"), count(lit(1)).as("n_members"))
    labeled.join(best, Seq("rep_id"))
      .filter(col("q") === col("quality"))
      .groupBy(col("rep_id"), col("quality"), col("n_members"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("rep_id"), col("keep_id"), col("quality"),
        col("n_members"))
  }

  /** Corpus snapshot diff — the incremental-ingest planning step: given
    * the previous snapshot and the current one, classify every doc_id as
    * `added` / `removed` / `changed` / `unchanged` by content
    * fingerprint ([[TextStats.fingerprint]]: whitespace-normalized
    * lowercase md5, the same key every dedup stage uses). Downstream,
    * only `added`+`changed` re-enter the cleaning pipeline and
    * `removed` ids retire from the index — the 100 TB alternative to
    * re-cleaning the whole corpus per crawl ([[TextDedup.incrementalDedup]]
    * is the next stage over exactly this frame).
    *
    * Scale shape: two fingerprint projections (codegen), one full outer
    * hash join on the id — no windows, no global state. Output:
    * (id, status, fp_prev, fp_cur). */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def fp(df: DataFrame, out: String) = df.select(
      col(idCol), TextStats.fingerprint(col(textCol)).as(out))
    fp(prev, "fp_prev").join(fp(cur, "fp_cur"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_prev").isNull, lit("added"))
          .when(col("fp_cur").isNull, lit("removed"))
          .when(col("fp_prev") =!= col("fp_cur"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("fp_prev"), col("fp_cur"))
  }

  /** CCNet-style per-language perplexity bucketing: score every document
    * with the corpus-trained unigram LM ([[TextStats.lmScore]]), compute
    * per-LANGUAGE score quantile cut points, and tag each document
    * `head` / `middle` / `tail` (head = best-scoring `1−highQ` fraction
    * of its language — CCNet trains on head+middle and drops tail).
    * Per-language cuts matter: absolute log-prob scales differ by
    * language, so one global threshold would keep everything from one
    * language and nothing from another.
    *
    * Scale shape: the LM score is one vocab aggregate + one token join
    * (see lmScore); the cut points are ONE exact-percentile aggregate
    * over (language, score) — output rows = number of languages —
    * broadcast back, then a stateless CASE. No window over documents, no
    * global sort. Determinism: scores AND cuts are 6-dp-rounded before
    * the comparison (Spark `percentile` ≡ DuckDB `quantile_cont`
    * interpolation, but a tied top group interpolates to within one ulp
    * of the tie value — comparing a rounded cut against an UNROUNDED
    * score would flip boundary docs on that ulp), so the bucket verdicts
    * hash-match and ties land on the head side on both engines.
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, lowQ: Double = 1.0 / 3, highQ: Double = 2.0 / 3)
      : DataFrame = {
    // scope-cached: `scored` feeds BOTH the cuts aggregate and the final
    // join — uncached, the whole LM-scoring lineage (corpus tokenization
    // + vocab join) executes twice in one plan (seen in the formatted
    // plan as a duplicated subtree)
    val scored = graft.ops.CacheScope.persist(
      TextStats.lmScore(docs, textCol, idCol)
        .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
        .select(col(idCol), col(langCol),
          round(col("avg_logprob"), 6).as("avg_logprob")))
    val cuts = scored.groupBy(col(langCol)).agg(
      round(percentile(col("avg_logprob"), lit(lowQ)), 6).as("cut_low"),
      round(percentile(col("avg_logprob"), lit(highQ)), 6).as("cut_high"))
    scored.join(broadcast(cuts), Seq(langCol))
      .select(col(idCol), col(langCol), col("avg_logprob"),
        col("cut_low"), col("cut_high"),
        when(col("avg_logprob") >= col("cut_high"), lit("head"))
          .when(col("avg_logprob") >= col("cut_low"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Shard manifest — the planning table a training run reads instead of
    * the corpus: deterministic id-hash shard assignment (same md5 bucket
    * family as [[TextDedup.hashSplit]], so shards are stable under
    * re-layout) with per-shard doc/token/char volume. One projection +
    * one `nShards`-row aggregate; the manifest is what makes token-count
    * budgeting and balanced data-loader striping possible without
    * scanning 100 TB at job-start. */
  /** Distribution-drift report (Population Stability Index) between a
    * reference and a current snapshot of an integer signal (token
    * count, byte length, …): per fixed-width bucket, the two
    * Laplace-smoothed shares and the PSI contribution
    * `(p − q) · ln(p / q)`. Σ contrib is the PSI; the standard alarm
    * thresholds (0.1 warn / 0.25 act) apply to the total. The monitor
    * that catches a silently-changed upstream feed before it trains.
    *
    * Fixed-width integer buckets (the [[TextStats.lengthHistogram]]
    * rule) make bucketing pure integer arithmetic; Laplace add-one over
    * the FULL-JOINED bucket set handles empty-on-one-side buckets
    * without dropping them (where drift lives) and is computed against
    * the same bucket count on both sides.
    *
    * Scale: two histogram aggregates (bucket-cardinality output), one
    * full outer join on bucket, totals on a 1-row broadcast — nothing
    * scales with corpus size except the two scans.
    *
    * Determinism: shares are 6-dp-rounded before the ln; ln output is
    * 6-dp-rounded before the product (the lmScore rules); counts are
    * exact integers throughout. */
  def distributionDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      width: Int): DataFrame = {
    require(width > 0, "distributionDrift: width must be positive")
    def hist(df: DataFrame, tag: String) = df
      .select((col(valueCol) - pmod(col(valueCol), lit(width)))
        .cast("long").as("bucket_lo"))
      .groupBy(col("bucket_lo")).agg(count(lit(1)).as(s"n_$tag"))
    val h = hist(ref, "ref").join(hist(cur, "cur"), Seq("bucket_lo"), "full")
      .select(col("bucket_lo"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = h.agg(sum(col("n_ref")).as("tot_ref"),
      sum(col("n_cur")).as("tot_cur"), count(lit(1)).as("n_buckets"))
    val p = round((col("n_ref") + 1) /
      (col("tot_ref") + col("n_buckets")).cast("double"), 6)
    val q = round((col("n_cur") + 1) /
      (col("tot_cur") + col("n_buckets")).cast("double"), 6)
    h.crossJoin(broadcast(tot))
      .select(col("bucket_lo"), col("n_ref"), col("n_cur"),
        p.as("p_ref"), q.as("p_cur"),
        round((p - q) * round(log(p / q), 6), 6).as("psi_contrib"))
  }

  /** Preference-pair mining: deterministic (chosen, rejected) document
    * pairs per source from opposite ends of a quality binning — the
    * selection shape of DPO/RLHF-style preference data built from
    * heuristic signals (chosen from bins ≥ `hiMin`, rejected from bins
    * ≤ `loMax`, e.g. the [[percentileBins]] output).
    *
    * Pairing is windowless: each doc hashes into one of
    * `pairsPerSource` pair slots (salted md5, independent of every
    * other hash decision), and each (source, slot, side) elects ONE
    * representative by `min(struct(u, id, q))` — a hash aggregate with
    * map-side partials whose output is ≤ sources × slots × 2 rows, so
    * no reducer ever sees more than its group's candidates and nothing
    * scales with corpus size except the scan. A slot missing either
    * side yields no pair (inner join), so output is ≤ sources × slots.
    *
    * Determinism: u is the salted md5 uniform; ties fall through the
    * struct to (id, q) — total order, no `max_by` undefined-tie risk. */
  def preferencePairs(scored: DataFrame, idCol: String, sourceCol: String,
      binCol: String, valueCol: String, hiMin: Int, loMax: Int,
      pairsPerSource: Int = 4, salt: String = "pref"): DataFrame = {
    require(hiMin > loMax, "preferencePairs: hiMin must exceed loMax")
    val idStr = col(idCol).cast("string")
    val u = (TextDedup.baseHash(concat(lit(s"$salt:u:"), idStr)) + 1)
      .cast("double") / lit(4294967296.0)
    val slot = TextDedup.baseHash(concat(lit(s"$salt:b:"), idStr)) %
      pairsPerSource
    def side(pred: org.apache.spark.sql.Column, tag: String) =
      scored.filter(pred)
        .select(col(sourceCol), slot.as("pair_slot"),
          struct(u.as("u"), col(idCol).as("id"), col(valueCol).as("q"))
            .as("s"))
        .groupBy(col(sourceCol), col("pair_slot"))
        .agg(min(col("s")).as(tag))
    side(col(binCol) >= hiMin, "chosen")
      .join(side(col(binCol) <= loMax, "rejected"),
        Seq(sourceCol, "pair_slot"))
      .select(col(sourceCol), col("pair_slot"),
        col("chosen.id").as("chosen_id"), col("chosen.q").as("chosen_q"),
        col("rejected.id").as("rejected_id"),
        col("rejected.q").as("rejected_q"))
  }

  /** Compaction plan: assign ordered shards to output files of
    * ~`targetSize` (the small-files answer — a 100 TB table written by
    * thousands of tasks fragments into millions of under-sized files;
    * the rewrite job needs a deterministic shard → output-file map, not
    * a guess). A shard lands in the file its cumulative START offset
    * falls in: `out_file = floor((cumsum − size) / targetSize)`. Files
    * never exceed `targetSize` plus one overhanging shard — the
    * standard bound for offset packing; a bin-search "perfect" packing
    * would be sequential and no better in practice.
    *
    * Scale: the window runs over the MANIFEST (shard rows, typically
    * thousands), never the data — that is the entire point of planning
    * on [[shardManifest]] output. With `partitionCols` the window
    * parallelizes per partition; without, it is one task over the
    * manifest — acceptable because the manifest is small by
    * construction. Sizes are integers, so cumsums are exact. */
  def compactionPlan(manifest: DataFrame, keyCol: String, sizeCol: String,
      targetSize: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(targetSize > 0, "compactionPlan: targetSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*).orderBy(col(keyCol))
    manifest
      .withColumn("start_off",
        sum(col(sizeCol)).over(w).cast("long") - col(sizeCol))
      .select((partitionCols :+ keyCol).map(col) ++ Seq(
        col(sizeCol), col("start_off"),
        floor(col("start_off") / lit(targetSize)).cast("int")
          .as("out_file")): _*)
  }

  /** END-TO-END corpus build — the three cleaning gates every LLM
    * ingest runs, composed into ONE call (the reference's cleaner-chain
    * posture lifted to the training-data pipeline): exact dedup
    * (keep-min-id per content fingerprint) → quality gate (composite
    * score ≥ `minQuality`) → MinHash-LSH near-dedup with the keep-first
    * policy (a doc drops iff it is the HIGHER id of any surviving pair
    * ≥ `threshold` — deterministic without a component pass, the
    * standard first-wins ingest rule).
    *
    * Returns (cleaned, funnel): `cleaned` is the surviving input rows
    * unchanged in schema — ready for [[shardManifest]] / packing;
    * `funnel` is the 4-row stage-accounting table (stage_ord, stage,
    * n_docs, n_tokens) a pipeline run logs as its receipt — each stage's
    * doc and token survivorship at one glance.
    *
    * Scale: stage 1 is one fingerprint hash-agg + a semi-join back;
    * stage 2 a codegen'd projection-filter; stage 3 exactly the
    * [[TextDedup.minhashNearDups]] banded plan (candidates are
    * collision-bounded, never all-pairs) + one anti-join on the distinct
    * drop ids. The two intermediate survivor sets are CacheScope-pinned
    * — both feed two consumers (the next gate and the funnel), and at
    * 100 TB a production run would checkpoint each stage to the lake
    * instead (the funnel then reads the stage manifests for free). */
  def corpusBuild(docs: DataFrame, textCol: String, idCol: String,
      minQuality: Double, n: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    val reps = TextDedup.exactDedup(docs, textCol, idCol)
      .select(col("representative_id").as(idCol))
    val s1 = graft.ops.CacheScope.persist(
      docs.join(reps, Seq(idCol), "left_semi"))
    val s2 = graft.ops.CacheScope.persist(
      s1.filter(TextStats.qualityScore(col(textCol)) >= minQuality))
    val drops = TextDedup
      .minhashNearDups(s2, textCol, idCol, n, k, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    // s3 pinned for the same reason as s1/s2: it feeds BOTH returned
    // frames (cleaned and the funnel's last row) — without the pin a
    // caller consuming the pair runs the LSH near-dup stage twice
    val s3 = graft.ops.CacheScope.persist(
      s2.join(drops, Seq(idCol), "left_anti"))
    (s3, stageFunnel(textCol,
      Seq("raw" -> docs, "exact_dedup" -> s1, "quality_gate" -> s2,
        "near_dedup" -> s3)))
  }

  /** The 4-row stage-accounting receipt shared by the batch and
    * incremental corpus builds: (stage_ord, stage, n_docs, n_tokens)
    * per pipeline stage. Each row is a 1-row global aggregate of its
    * stage frame — volume-independent output. */
  private def stageFunnel(textCol: String,
      stages: Seq[(String, DataFrame)]): DataFrame =
    stages.zipWithIndex.map { case ((name, df), ord) =>
      df.agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col(textCol)).cast("long"))
            .as("n_tokens"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    }.reduce(_ unionByName _)

  /** INCREMENTAL corpus build — [[corpusBuild]]'s day-2 shape: clean an
    * INCOMING batch against an archive that is present ONLY as its
    * indexes (the 100 TB ingest posture — the corpus is petabytes, the
    * fingerprint index is one row per distinct content and the LSH
    * index one (band, id) row per doc·band; neither re-reads or
    * re-shingles the archive):
    *
    *   1. exact gate — [[TextDedup.incrementalDedup]]: first-of-
    *      fingerprint within the batch AND absent from `fpIndex`;
    *   2. quality gate — composite score ≥ `minQuality`;
    *   3. near-dedup — within-batch keep-first pairs
    *      ([[TextDedup.minhashNearDups]]) UNION cross-archive probes
    *      ([[TextDedup.incrementalLshPairs]] against `lshBands` /
    *      `lshHashes`): a doc drops if it is the higher id of a batch
    *      pair or a near-dup of ANY archived doc.
    *
    * Returns (cleaned, funnel) exactly as [[corpusBuild]] — the two
    * builds log the same receipt schema, so a day-1 full build and
    * every day-N incremental append read uniformly in the run log.
    *
    * Scale: every stage is batch-sized or collision-bounded; the only
    * archive-sized frames are the two indexes, joined on their bucket
    * keys (band / fp) — stored bucketed, both joins are exchange-free
    * on the index side. */
  def corpusBuildIncremental(incoming: DataFrame, textCol: String,
      idCol: String, fpIndex: DataFrame, lshBands: DataFrame,
      lshHashes: DataFrame, minQuality: Double, n: Int = 3, k: Int = 8,
      bands: Int = 4, threshold: Double = 0.5)
      : (DataFrame, DataFrame) = {
    val (s1raw, _) =
      TextDedup.incrementalDedup(incoming, textCol, idCol, fpIndex)
    val s1 = graft.ops.CacheScope.persist(s1raw)
    val s2 = graft.ops.CacheScope.persist(
      s1.filter(TextStats.qualityScore(col(textCol)) >= minQuality))
    val withinDrops = TextDedup
      .minhashNearDups(s2, textCol, idCol, n, k, bands, threshold)
      .select(col("id_b").as(idCol))
    val crossDrops = TextDedup
      .incrementalLshPairs(s2, textCol, idCol, lshBands, lshHashes,
        n, k, bands, threshold)
      .select(col("doc_id").as(idCol))
    val s3 = graft.ops.CacheScope.persist(
      s2.join(withinDrops.unionByName(crossDrops).distinct(),
        Seq(idCol), "left_anti"))
    (s3, stageFunnel(textCol,
      Seq("raw" -> incoming, "exact_dedup" -> s1, "quality_gate" -> s2,
        "near_dedup" -> s3)))
  }

  /** Incremental build WITH COMMIT — the day-N archive loop CLOSED in
    * batch, matching the streaming capstone's grow semantics: clean
    * the incoming batch against the archive's on-disk indexes
    * ([[corpusBuildIncremental]] over [[ArchiveIndex]] readers), then
    * APPEND the survivors' own index rows (fp entries, LSH bands,
    * hash sets) into the same bucket layout and run the maintenance
    * pass ([[ArchiveIndex.compact]]) — so tomorrow's batch dedups
    * against today's accepted docs without anyone ever re-reading or
    * re-shingling the archive. `ext_corpus_build_day3` hash-gates the
    * full two-day fold: day-3 drops exact and near copies of day-2
    * survivors, pairs only a committed index can produce.
    *
    * Ordering hazard handled here: the cleaned/funnel plans READ the
    * same parquet dirs the commit rewrites, so both are
    * localCheckpoint'ed (eager — materialized and lineage-truncated)
    * BEFORE the appends and the compaction's manifest flip + GC;
    * without the barrier a post-GC re-evaluation would chase deleted
    * files (concurrent EXTERNAL readers are safe via the manifest
    * snapshot + grace window; this barrier is about THIS loop's own
    * lazy plans, which the scoped cache release below also drops). The
    * survivors' fp entries are disjoint from the archive's by
    * construction (stage 1 dropped every fp already present), so the
    * append preserves the one-row-per-distinct-content invariant.
    *
    * Scale: appends are O(batch) distributed writes into the bucketed
    * layout; compaction cost is bounded by file count
    * ([[compactionPlan]] on the manifest); nothing archive-sized is
    * read beyond the indexes the probe already touches. `gcGraceMs`
    * is threaded to the maintenance pass's GC: the default 0 is the
    * single-process loop (this caller is the only reader between
    * batches); a deployment with EXTERNAL concurrent readers or
    * appenders passes a grace ≥ its max scan / stage-to-commit
    * duration, per the [[ArchiveIndex]] concurrency contract. */
  def corpusBuildIncrementalCommit(incoming: DataFrame, textCol: String,
      idCol: String, archiveDir: String, minQuality: Double, n: Int = 3,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
      gcGraceMs: Long = 0L): (DataFrame, DataFrame) = {
    val spark = incoming.sparkSession
    val nB = ArchiveIndex.nBuckets(spark, archiveDir)
    val scope = graft.ops.CacheScope.mark()
    val (cleaned, funnel) = corpusBuildIncremental(
      incoming, textCol, idCol,
      ArchiveIndex.readFp(spark, archiveDir)
        .select("fp", "representative_id"),
      ArchiveIndex.readBands(spark, archiveDir),
      ArchiveIndex.readHashes(spark, archiveDir),
      minQuality, n, k, bands, threshold)
    val pinned = cleaned.localCheckpoint()
    val receipt = funnel.localCheckpoint()
    // the internal stage caches are fully pinned into the checkpoints;
    // release them BEFORE the appends+compaction rewrite the very dirs
    // their plans were read from — otherwise each micro-batch of the
    // streaming commit loop leaks its stage caches AND leaves live
    // CacheManager holders of dead (GC'd) file indexes for later
    // recache passes to re-list
    graft.ops.CacheScope.releaseSince(scope)
    ArchiveIndex.appendBucketedTable(
      TextDedup.exactDedup(pinned, textCol, idCol), "fp",
      ArchiveIndex.fpDir(archiveDir), nB)
    val (ib, ih) = TextDedup.lshIndex(pinned, textCol, idCol, n, k, bands)
    ArchiveIndex.appendBucketedTable(ib, "band",
      ArchiveIndex.ibDir(archiveDir), nB)
    ArchiveIndex.appendBucketedTable(ih, "id",
      ArchiveIndex.ihDir(archiveDir), nB)
    ArchiveIndex.compact(spark, archiveDir, gcGraceMs)
    (pinned, receipt)
  }

  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int = 8): DataFrame =
    docs.select(
        (TextDedup.baseHash(col(idCol).cast("string")) % nShards)
          .as("shard_id"),
        TextStats.tokenCount(col(textCol)).cast("long").as("n_tok"),
        length(col(textCol)).cast("long").as("n_ch"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"))

  // ---- k-anonymity (Sweeney 2002) privacy audit -----------------------------

  /** k-anonymity audit over a quasi-identifier combination: group sizes
    * plus the INT 0/1 verdict `is_anon = (n_rows >= k)` — the table a
    * release review reads before publishing row-level data (every group
    * below k re-identifies its members down to ≤ k−1 candidates).
    *
    * Scale: ONE hash aggregate on the quasi-identifier tuple with
    * map-side partials; output cardinality is the quasi-combination
    * count, never row count. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(k > 0, "kAnonymity: k must be positive")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("is_anon", (col("n_rows") >= k).cast("int"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the homogeneity
    * check k-anonymity misses: a group can be k-anonymous yet leak its
    * members' sensitive attribute outright when all k rows SHARE one
    * sensitive value. Each quasi-identifier group must contain at least
    * `l` distinct sensitive values; the verdict rides alongside the
    * group size so a release review reads one table for both audits.
    *
    * Scale: one distinct-aggregate on (quasi-tuple, sensitive) — Spark
    * plans countDistinct as the two-phase partial-distinct expand, so
    * the exchange carries (group, sensitive-value) pairs, never rows;
    * output cardinality is the quasi-combination count. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(l > 0, "lDiversity: l must be positive")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("is_diverse", (col("n_sensitive") >= l).cast("int"))
  }

  /** t-closeness audit (Li et al. 2007) — the skew check l-diversity
    * misses: a group can hold l distinct sensitive values yet still
    * leak by DISTRIBUTION (99% of one value where the corpus is
    * uniform). Per quasi-group, the total-variation distance between
    * the group's sensitive-value distribution and the global one:
    * tv = ½ Σ_v |p_group(v) − p_global(v)|, flagged when tv > t.
    *
    * Scale: one (quasi-tuple, value) hash agg, one value-marginal agg
    * (bounded by the sensitive attribute's cardinality — broadcast),
    * then groups × values via the bounded broadcast — output and every
    * intermediate is quasi-combination-grain. Determinism: each
    * |p_g − p| term is 6-dp-rounded then summed in exact DECIMAL(18,6)
    * so within-group accumulation order cannot matter. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, t: Double): DataFrame = {
    require(t > 0, "tCloseness: t must be positive")
    val qs = quasiCols.map(col)
    // (group, value) counts — persisted: feeds group sizes AND the terms
    val gv = graft.ops.CacheScope.persist(
      df.groupBy(qs :+ col(sensitiveCol).as("__v"): _*)
        .agg(count(lit(1)).as("__c")))
    val gn = gv.groupBy(qs: _*).agg(sum(col("__c")).as("__gn"))
    val vGlobal = graft.ops.CacheScope.persist(
      gv.groupBy(col("__v")).agg(sum(col("__c")).as("__cv")))
    val n = vGlobal.agg(sum(col("__cv")).as("__n"))
    // every group × every sensitive value (bounded product), absent
    // combinations count 0 on the group side. NULL-SAFE join keys: a
    // NULL quasi value (unknown nation) or NULL sensitive value is a
    // legitimate GROUP/VALUE here — a null-unsafe join would zero the
    // NULL-keyed group's own counts and mis-score its tv distance as
    // 0.5·Σp_global(v) regardless of its real distribution.
    val left = gn.crossJoin(broadcast(vGlobal)).crossJoin(broadcast(n))
    // the right side is renamed WHOLESALE (keys and count): `left`
    // already contains gv's lineage (gn and vGlobal both derive from
    // it), so any shared attribute would be an ambiguous self-join —
    // with disjoint names the join condition and the projection need no
    // frame qualification at all
    val gvr = gv.select(
      (quasiCols.map(c => col(c).as(s"__r_$c")) :+
        col("__v").as("__r_v") :+ col("__c").as("__r_c")): _*)
    val joinCond = (quasiCols.map(c => col(c) <=> col(s"__r_$c")) :+
      (col("__v") <=> col("__r_v"))).reduce(_ && _)
    val grid = left.join(gvr, joinCond, "left")
      .select((quasiCols.map(col) :+ col("__gn") :+ col("__v") :+
        round(abs(
          coalesce(col("__r_c"), lit(0L)).cast("double") / col("__gn")
            - col("__cv").cast("double") / col("__n")), 6).as("__d")): _*)
    grid.groupBy(qs: _*)
      .agg(first(col("__gn")).as("n_rows"),
        sum(col("__d").cast(DecimalType(18, 6))).as("__sd"))
      .select((qs :+ col("n_rows") :+
        round(lit(0.5) * col("__sd").cast("double"), 6).as("tv_dist")): _*)
      .withColumn("is_close", (col("tv_dist") <= t).cast("int"))
  }

  /** ε-differentially-private noisy counts (the Laplace mechanism,
    * Dwork et al. 2006): per-group counts (sensitivity 1) plus
    * inverse-CDF Laplace noise with scale 1/ε. The uniform driving the
    * noise is an md5-derived, salt-keyed deterministic stand-in — a
    * real release draws it from a private RNG; everything the engine is
    * responsible for (one hash aggregate, stateless noise projection,
    * the clamp keeping ln off its singularity, 6-dp cross-engine
    * rounding of the transcendental) is identical either way and is
    * what the oracle pins.
    *
    * Output keeps the true count alongside (audit/test view — a
    * production release would project it away). */
  def dpNoisyCounts(df: DataFrame, keyCol: String, epsilon: Double,
      salt: String = "dp"): DataFrame = {
    require(epsilon > 0, "dpNoisyCounts: epsilon must be positive")
    val h = TextDedup.baseHash(concat(lit(s"$salt:"), col(keyCol)))
    // u ∈ (0,1], clamped off both ends so ln(1-2|u-0.5|) stays finite
    val u = least(greatest((h + lit(1L)) / lit(4294967296.0),
      lit(0.000001)), lit(0.999999))
    val x = u - lit(0.5)
    val noise = -signum(x) * lit(1.0 / epsilon) *
      round(log(lit(1.0) - lit(2.0) * abs(x)), 6)
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("n_noisy", round(col("n_true") + noise, 6))
  }

  /** k-anonymization by cell suppression: rows in quasi-groups smaller
    * than `k` get EVERY quasi-identifier masked to `'*'` (full-tuple
    * suppression — masking single cells can still leak through the
    * remaining combination), all other columns pass through. Quasi
    * columns come back as strings (the mask shares a column with
    * values).
    *
    * Scale: the group-size aggregate plus one equi-join back on the
    * same quasi keys — both sides hash-partition identically, so the
    * aggregate-side exchange is reused; no window, no broadcast of
    * row-level data. */
  def suppressSmallGroups(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(k > 0, "suppressSmallGroups: k must be positive")
    val sizes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val masked = quasiCols.map(c =>
      when(col("__n") >= k, col(c).cast("string"))
        .otherwise(lit("*")).as(c))
    val rest = df.columns.filterNot(quasiCols.contains).map(col)
    df.join(sizes, quasiCols).select(masked ++ rest: _*)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by the log-likelihood ratio of a TARGET feature distribution over
    * the RAW one, under bag-of-hashed-n-gram models — the
    * domain-matching selection signal between hand weights
    * ([[mixSources]]) and a trained classifier.
    *
    * Features are salted-md5-hashed unigrams + bigrams in `buckets`
    * bins; the target distribution comes from the `targetPred` subset
    * (in-corpus stand-in for DSIR's external target corpus). Per-bucket
    * ratio uses add-`alpha` smoothing; weight = Σ over the doc's feature
    * MULTISET of round(ln(p̂_t/p̂_r), 6), summed exactly in decimal (the
    * [[TextStats]] LM determinism recipe — counts and totals are
    * integers, +0.5 terms are exact half-integers, so the ratio fed to
    * `ln` is bit-identical cross-engine).
    *
    * Scale shape: ONE cached tokenize+hash pass feeds both the bucket
    * aggregate (`buckets`-bounded) and the per-doc sum; totals ride a
    * 1-row broadcast; both shuffles key on high-cardinality columns
    * (bucket, doc id) with map-side partials. */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
      targetPred: org.apache.spark.sql.Column, buckets: Int = 4096,
      alpha: Double = 0.5): DataFrame = {
    val toks = TextStats.tokens(lower(col(textCol)))
    def h(c: org.apache.spark.sql.Column) =
      pmod(TextDedup.baseHash(concat(lit("dsir:"), c)), lit(buckets.toLong))
    val unis = transform(toks, t => h(t))
    val bis = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => h(concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))))
      .otherwise(array().cast("array<bigint>"))
    val feats = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"), targetPred.cast("long").as("is_t"),
        explode(concat(unis, bis)).as("bucket")))
    feats.count() // eager: two independent consumers must not hash twice
    val counts = feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cr"), sum(col("is_t")).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val aB = alpha * buckets
    val logs = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log(((col("ct") + alpha) * (col("tr") + aB))
          / ((col("cr") + alpha) * (col("tt") + aB))), 6).as("logr"))
    feats.join(logs, Seq("bucket"))
      .groupBy(col("id"))
      .agg(
        sum(col("logr").cast(DecimalType(18, 6))).cast("double")
          .as("dsir_weight"),
        count(lit(1)).as("n_feats"))
      .select(col("id").as(idCol), col("dsir_weight"), col("n_feats"))
  }

  /** Quality-prioritized token-budget selection (the FineWeb/DCLM-style
    * "keep the best N tokens" pruning rule): documents are ranked by
    * ([[TextStats.qualityScore]] desc, id asc) and kept while the
    * running token total stays within `budget` — an EXACT global budget,
    * unlike [[mixSources]]' expected-rate coin.
    *
    * The cutoff needs a corpus-wide cumulative sum in quality order; the
    * naive `sum().over(Window.orderBy(quality))` funnels every row
    * through one reducer. Same two-phase distributed prefix sum as
    * [[Packing.packOffsets]], range-partitioned on the ranking key
    * instead of the id: per-partition totals (one row per partition) get
    * their offsets on the only sequential step, then every partition
    * computes its local prefix in parallel. The persist pins one set of
    * RangePartitioner boundaries (its sampling would otherwise re-draw
    * per consumer).
    *
    * Returns (idCol, quality, n_tokens, cum_tokens) for kept docs —
    * `cum_tokens` (inclusive) ≤ budget. Deterministic: quality is
    * 6-dp-rounded, ids break ties totally, token counts are integral. */
  def tokenBudgetSelect(docs: DataFrame, textCol: String, idCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "tokenBudgetSelect: budget must be positive")
    val scored = docs.select(col(idCol).cast("long").as("id"),
      TextStats.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      TextStats.qualityScore(col(textCol)).as("quality"))
    val sorted = graft.ops.CacheScope.persist(
      scored.repartitionByRange(col("quality").desc, col("id"))
        .sortWithinPartitions(col("quality").desc, col("id"))
        .withColumn("__pid", spark_partition_id()))
    // Eager materialization, not just persist: the per-partition-offsets
    // branch and the final window join are INDEPENDENT consumers, and a
    // not-yet-materialized cache lets each trigger its own
    // RangePartitioner sample — two boundary draws would hand the two
    // branches inconsistent __pid assignments (observed as a broken
    // cumulative chain). One count() pins one set of boundaries.
    sorted.count()
    val partOffsets = sorted.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptotal"))
      .withColumn("__poffset",
        coalesce(
          sum(col("__ptotal")).over(
            Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__poffset"))
    val localW = Window.partitionBy("__pid")
      .orderBy(col("quality").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted.join(broadcast(partOffsets), Seq("__pid"))
      .withColumn("cum_tokens",
        col("__poffset") + sum(col("n_tokens")).over(localW))
      .filter(col("cum_tokens") <= budget)
      .select(col("id").as(idCol), col("quality"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Stratified sample with EXACT total size: allocate `n` slots across
    * `groupCol` strata proportional to stratum size using
    * largest-remainder (Hamilton) rounding, then take each stratum's
    * quota by md5-priority. Fraction-based sampling ([[graft.ext
    * .TextDedup.hashSplit]]-style coins) only hits the target size in
    * expectation; evaluation sets and fixed-budget data orders need the
    * exact count, and largest-remainder is the allocation that
    * minimizes total rounding error.
    *
    * Determinism (oracle-portable): quotas are pure INTEGER arithmetic —
    * base = (n·cnt) div N, remainder = (n·cnt) mod N, the `+1` leftovers
    * going to the largest remainders (ties → group asc); doc priority is
    * the md5 base hash with doc_id tie-break.
    *
    * Scale: stratum sizes are one hash aggregate (G rows); allocation
    * windows run over the G-row frame only. Per-stratum selection is
    * the bounded-heap [[graft.functions.TopKAgg]] with k = n (the
    * TOTAL sample bound, a caller knob): map-side partials keep ≤ n
    * rows per (stratum, partition), so no stratum's full membership
    * ever sorts or funnels through one task — the
    * `Window.partitionBy(group).orderBy(hash)` form this replaces
    * would put the largest stratum's 100 TB share in one reducer. */
  def stratifiedSample(docs: DataFrame, idCol: String, groupCol: String,
      n: Int): DataFrame = {
    require(n > 0, "stratifiedSample: n must be positive")
    val sizes = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt"))
    val tot = sizes.agg(sum(col("cnt")).as("n_tot"))
    val alloc0 = sizes.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($n * cnt) div n_tot"))
      .withColumn("rem", (lit(n.toLong) * col("cnt")) % col("n_tot"))
    val wRem = Window.orderBy(col("rem").desc, col(groupCol).asc)
    val alloc = alloc0
      .withColumn("rr", row_number().over(wRem))
      .crossJoin(broadcast(
        alloc0.agg((lit(n.toLong) - sum(col("base"))).as("leftover"))))
      .withColumn("quota",
        col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
      .select(col(groupCol), col("quota"))
    val pri = TextDedup.baseHash(col(idCol).cast("string"))
    val picks = docs
      .select(col(groupCol), col(idCol).cast("long").as("id"), pri.as("pri"))
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKAgg.top_k(
        (lit(0L) - col("pri")).cast("double"), col("id"), n).as("picks"))
      .select(col(groupCol), explode(col("picks")).as("p"))
      .select(col(groupCol), col("p.id").as(idCol),
        col("p.rank").as("rank"))
    picks.join(broadcast(alloc), Seq(groupCol))
      .filter(col("rank") <= col("quota"))
      .select(col(groupCol), col(idCol), col("rank"), col("quota"))
  }

  /** Curriculum ordering WITHOUT a global window: assign every doc a
    * single sortable `curriculum_key` such that ordering by
    * (curriculum_key, id) yields easy→hard difficulty bins, and WITHIN
    * each bin an interleave across sources (round 0 takes one doc from
    * every source, then round 1, …) — the anti-clumping property a
    * curriculum sampler needs so no long same-source run appears in
    * training order.
    *
    * key = (bin · maxR + r) · maxSlot + slot, where bin is the
    * difficulty percentile bin, r the doc's md5-ranked round within its
    * (source, bin) cell, and slot a per-source md5 slot that shuffles
    * source order inside each round. All three components are
    * per-partition or per-cell computations — the ONLY window is
    * partitioned by (source, bin), a bounded cell, never row-grained
    * global. The global ORDER materializes at write time via
    * `repartitionByRange(curriculum_key, id)` +
    * `sortWithinPartitions` — the scale-safe "global sort is a range
    * partition, not a row number" rule (the token-budget/packing
    * prefix-sum discipline applied to ordering).
    *
    * Widths: key stays in Long for bins·maxR·maxSlot ≤ 2^63 (defaults:
    * 8 bins · 2^32 rounds · 2^20 slots ≈ 3.6e16). `maxR` bounds docs
    * per (source, bin) cell; raise it (and lower maxSlot) for corpora
    * beyond 4e9 docs per source-bin. */
  def curriculumOrder(docs: DataFrame, idCol: String, sourceCol: String,
      difficultyCol: String, bins: Int = 8,
      maxR: Long = 1L << 32, maxSlot: Long = 1L << 20,
      boundedDistinct: Boolean = false): DataFrame = {
    val binned = percentileBins(
      docs.select(col(idCol), col(difficultyCol)), difficultyCol, idCol,
      bins, exactCuts = true, boundedDistinct = boundedDistinct)
    val base = binned.join(docs.select(col(idCol), col(sourceCol)),
      Seq(idCol))
    val w = Window.partitionBy(col(sourceCol), col("bin"))
      .orderBy(
        TextDedup.baseHash(
          concat(lit("cur:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    base
      .withColumn("r", (row_number().over(w) - 1).cast("long"))
      .withColumn("slot",
        TextDedup.baseHash(concat(lit("slot:"), col(sourceCol)))
          % maxSlot)
      .select(col(idCol), col(sourceCol), col("bin"), col("r"),
        col("slot"),
        ((col("bin").cast("long") * maxR + col("r")) * maxSlot
          + col("slot")).as("curriculum_key"))
  }

  /** Bradley-Terry strength fitting over pairwise preference outcomes
    * (Bradley & Terry 1952; MM iteration per Hunter 2004) — the ranking
    * step that turns an RLHF preference log (winner, loser) into scalar
    * completion strengths: P(i beats j) = w_i/(w_i+w_j), fitted by the
    * fixed-point update w_i ← W_i / Σ_j n_ij/(w_i+w_j) for `iters`
    * rounds from w=1, rescaled to mean 1 each round (BT is
    * scale-invariant; the rescale pins the gauge).
    *
    * Regularization: every item also plays one virtual DRAW against a
    * reference player of fixed strength 1 (W_i += 0.5, denominator +=
    * 1/(w_i+1)) — the standard fix that keeps undefeated items finite
    * and winless items positive, without which the MM fixed point
    * diverges on any item with a one-sided record.
    *
    * Scale: contests aggregate to one row per (i, j) pair — bounded by
    * DISTINCT matchups, not log length — and each round is one
    * (i, j)-keyed join + an item-keyed hash agg + a 1-row broadcast
    * rescale; [[graft.ops.Iterate]] pins each round (the PageRank
    * discipline). Nothing item-universe-sized ever sits on one
    * reducer, and the preference LOG streams through one map-side
    * count.
    *
    * Determinism: per-pair terms are IEEE-identical given identical
    * inputs; per-item and rescale sums run in exact DECIMAL(38,18) so
    * accumulation order cannot matter — each round's strengths are
    * bit-identical on any engine (the PageRank contract); round only at
    * the output edge.
    *
    * Output: (item, n_wins, n_games, strength), strength 6-dp. */
  def bradleyTerry(matches: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, "bradleyTerry: iters must be >= 1")
    import graft.ops.{CacheScope, Iterate}
    def decSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 18))).cast("double")
    val m = matches.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
    // ONE log pass (r15 opt): explode each match into its two directed
    // halves carrying a win marker, then a single (i, j) hash aggregate
    // yields both the match count n_ij AND i's win count against j. The
    // old shape (directed pair agg → union+re-agg → separate per-item
    // win agg joined onto games) spent three aggregates, a join and an
    // extra scope-cache on the same information — at sf0.1 the loop's
    // fixed cost is JOB COUNT (55 jobs/rep measured, every stage
    // < 0.4 s), and this removes ~5 setup jobs; at scale it is one
    // fewer pass over the preference log. Identical values: n_ij sums
    // the same matches, n_wins_i = Σ_j w_ij over the same log, and
    // items enter the universe iff they played ≥ 1 game, as before.
    // contests is pinned PRE-PARTITIONED on j: each round's first join
    // keys on j, so the cached hash(j) layout is reused and the pair
    // table itself never re-shuffles inside the loop (r14 optimization —
    // the loop's pair-sized exchanges drop 3 → 1 per round together
    // with the join reorder below)
    val contests = CacheScope.persist(
      m.select(explode(array(
          struct(col("w").as("i"), col("l").as("j"), lit(1L).as("wn")),
          struct(col("l").as("i"), col("w").as("j"), lit(0L).as("wn"))))
          .as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.wn").as("wn"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_ij"), sum(col("wn")).as("w_ij"))
        .repartition(col("j")))
    // games and wins are now ONE item-keyed aggregate over the cached
    // pair table — no join, no second pass over the log
    val wins = CacheScope.persist(contests
      .groupBy(col("i"))
      .agg(sum(col("n_ij")).as("n_games"), sum(col("w_ij")).as("wn"))
      .select(col("i"), col("wn").as("n_wins"), col("n_games"),
        (col("wn").cast("double") + 0.5).as("bt_w")))

    // the loop reads the pair table WITHOUT the win column (narrower
    // join rows); the projection preserves the cached hash(j) layout
    val pairLoop = contests.select(col("i"), col("j"), col("n_ij"))

    // the rescale scalars (item count + exact-decimal strength sum —
    // the r13 `wins.count()` fold) are COLLECTED off the pinned round
    // with one head() and folded back as literals (r15 opt): the old
    // crossJoin(broadcast(tot)) made the next round's plan carry a
    // BroadcastExchange whose build was its own job + planning pass.
    // Same arithmetic on the same doubles — bit-identical strengths.
    def rescale(ck: DataFrame): DataFrame = {
      val tot = ck.agg(decSum(col("s")).as("ssum"),
        count(lit(1)).cast("double").as("ni")).head()
      ck.select(col("i"), col("bt_w"),
        (col("s") * lit(tot.getDouble(1)) / lit(tot.getDouble(0))).as("s"))
    }
    // the initial strengths (all 1.0) are already on scale: round 1
    // reads them as they are, every later round rescales its input
    var scaled = true

    // the strengths frame CARRIES bt_w so a round is ONE pair join + one
    // item-keyed agg — not three item joins (bt_w and the previous
    // strength ride the contests join and come back out of the
    // aggregate via first(), identical within each group). `s` feeds
    // the contests join twice per round (both sides of every pair), the
    // shape Iterate.pin's stats reset exists for.
    val last = Iterate.rounds(
        wins.select(col("i"), col("bt_w"), lit(1.0).as("s")), iters) { prev =>
      val s = if (scaled) prev else rescale(prev)
      scaled = false
      val sj = s.select(col("i").as("j"), col("s").as("sj"))
      // join order is load-bearing for the exchange count: sj first
      // (contests' cached hash(j) layout absorbs it — only the
      // item-grain sj side shuffles), then s on i — the join's hash(i)
      // output feeds the i-keyed aggregate WITHOUT another pair-sized
      // exchange. The r13 order (i then j then group i) re-shuffled the
      // pair rows twice more per round for the same numbers.
      // The PIN sits on this pre-rescale aggregate (r14 opt): the r13
      // shape checkpointed the rescaled rows, so the pair join executed
      // TWICE per round — once under the rescale normalizer's broadcast
      // subtree and once for the checkpoint (the round's two dominant
      // stages, measured). Pinning the pre-rescale aggregate runs the
      // join ONCE; the normalizer and the rescale are then cheap
      // item-grain reads of the pin, deferred into the NEXT round's job
      // (identical arithmetic, identical values).
      // NOTE(r15): a Dataset-persist variant that folded the checkpoint
      // job into the rescale aggregate (raw.persist + cache-filling
      // agg + stats reset over the cache) was tried and REVERTED: warm
      // 4.6 s → 6.7 s, job count unchanged — the columnar
      // InMemoryRelation encode/decode per round costs far more than
      // the localCheckpoint's raw RDD blocks save in scheduling.
      pairLoop
        .join(sj, Seq("j")).join(s, Seq("i"))
        .groupBy(col("i"))
        .agg(first(col("bt_w")).as("bt_w"),
          first(col("s")).as("sp"),
          decSum(col("n_ij") / (col("s") + col("sj"))).as("den"))
        .select(col("i"), col("bt_w"),
          (col("bt_w") / (col("den") + lit(1.0) / (col("sp") + lit(1.0))))
            .as("s"))
    }
    val s = rescale(last)
    wins.join(s.select(col("i"), col("s")), Seq("i"))
      .select(col("i").as("item"), col("n_wins"), col("n_games"),
        round(col("s"), 6).as("strength"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, simplified to its
    * one-shot core): boost the sampling weight of domains whose loss
    * EXCEEDS the corpus baseline — "hard" domains get proportionally
    * more of the token budget than their natural share, easy domains
    * less. `lossPerDoc` supplies (idCol, `loss`) from any proxy the
    * caller trusts (the registered query uses per-doc character entropy;
    * a production pipeline plugs per-doc reference-model NLL in the same
    * column). Per domain d:
    *
    *   excess_d = max(loss_d − baseline, 0)           (clip at 0)
    *   boost_d  = exp(min(excess_d / tau, expCap))    (temperature tau)
    *   weight_d ∝ share_d · boost_d                   (normalized)
    *
    * `expCap` bounds the exponent so a pathological outlier domain
    * cannot overflow the downstream exact-decimal normalization (and
    * mirrors DoReMi's bounded per-step update).
    *
    * Scale: one hash-agg keyed on the domain (bounded: domains number
    * thousands at most), two 1-row broadcasts (corpus totals, weight
    * normalizer) — per-doc losses stream through map-side partial sums,
    * nothing domain-sized ever sits on one reducer. Determinism: domain
    * sums in exact DECIMAL(18,6) over 6-dp losses; exp/ln discipline =
    * round the argument, round the result (the lmScore rule).
    *
    * Output: (domain, n_docs, domain_loss, excess, share, weight,
    * multiplier) where multiplier = weight/share is the ready-to-use
    * up/down-sampling factor per domain. */
  def doremiWeights(docs: DataFrame, lossPerDoc: DataFrame, idCol: String,
      domainCol: String, tau: Double = 0.02,
      expCap: Double = 10.0): DataFrame = {
    val perDoc = docs.select(col(idCol).as("__id"), col(domainCol).as("domain"))
      .join(lossPerDoc.select(col(idCol).as("__id"), col("loss")), Seq("__id"))
    // persisted: `dom` feeds BOTH the corpus-totals broadcast and the
    // per-domain rows — without the cache the per-doc loss lineage (the
    // expensive part: whatever signal the caller computed per document)
    // would execute once per consumer
    val dom = graft.ops.CacheScope.persist(
      perDoc.groupBy(col("domain")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("loss").cast(DecimalType(18, 6))).as("s")))
    val tot = dom.agg(
      sum(col("n_docs")).as("n_total"),
      sum(col("s")).as("st"))
    val base = dom.crossJoin(broadcast(tot)).select(
      col("domain"), col("n_docs"),
      round(col("s").cast("double") / col("n_docs"), 6).as("domain_loss"),
      greatest(
        round(col("s").cast("double") / col("n_docs"), 6)
          - round(col("st").cast("double") / col("n_total"), 6),
        lit(0.0)).as("excess"),
      round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
    // persisted for the same reason: `w` feeds the normalizer aggregate
    // AND the final projection (domain-sized — the cache is tiny)
    val w = graft.ops.CacheScope.persist(base.withColumn("w_raw",
      round(col("share") *
        round(exp(least(round(col("excess") / tau, 6), lit(expCap))), 6), 6)))
    val norm = w.agg(sum(col("w_raw").cast(DecimalType(18, 6))).as("wsum"))
    w.crossJoin(broadcast(norm))
      .select(col("domain"), col("n_docs"), col("domain_loss"),
        round(col("excess"), 6).as("excess"), col("share"),
        round(col("w_raw") / col("wsum").cast("double"), 6).as("weight"),
        round(round(col("w_raw") / col("wsum").cast("double"), 6)
          / col("share"), 6).as("multiplier"))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a total training budget as UNIFORMLY as
    * possible across sources, capping each source at `epochCap` epochs
    * of its own supply — the closed-form waterfilling alternative to
    * temperature sampling that never over-repeats a low-resource
    * source past the epoch cap.
    *
    * Closed form over sources sorted by cap ascending (idx 1-based,
    * prefix = running cap sum, N = source count): source i is CAPPED
    * iff cap_i·(N−i+1) + prefix_{i−1} ≤ B (it caps out even when the
    * remaining budget is split evenly among all not-yet-capped
    * sources); with k capped sources consuming P_k, everyone else gets
    * the waterline L = (B − P_k)/(N − k). When B ≥ Σcap every source
    * is capped and L never applies.
    *
    * Scale: everything after the one per-source supply aggregate runs
    * at SOURCE cardinality — the sort/prefix windows scan tens of
    * rows, never the corpus (the `histogramQuantiles` bounded-window
    * shape). Determinism: supply sums are exact BIGINTs, caps are
    * whole-valued doubles (epochCap × integer), the prefix sum rides
    * DECIMAL(38,6), and L/epoch ratios round at 6 dp with identical
    * parenthesization in the oracle. */
  def unimaxMix(docs: DataFrame, sourceCol: String, weightCol: String,
      budget: Double, epochCap: Double): DataFrame = {
    val supply = docs.groupBy(col(sourceCol))
      .agg(sum(col(weightCol)).as("n_supply"))
      .select(col(sourceCol), col("n_supply"),
        (lit(epochCap) * col("n_supply").cast("double")).as("cap"))
    val ord = Window.orderBy(col("cap").asc, col(sourceCol).asc)
    val whole = Window.orderBy(col("cap").asc, col(sourceCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = supply
      .withColumn("idx", row_number().over(ord))
      .withColumn("prefix",
        sum(col("cap").cast(DecimalType(38, 6))).over(ord).cast("double"))
      .withColumn("n_src", count(lit(1)).over(whole))
    val capped = (col("cap") * (col("n_src") - col("idx") + 1)
      .cast("double") + (col("prefix") - col("cap"))) <= lit(budget)
    val marked = idx.withColumn("capped", capped.cast("int"))
    val kP = marked
      .withColumn("k", sum(col("capped")).over(whole))
      .withColumn("p_k", coalesce(max(when(col("capped") === 1,
        col("prefix"))).over(whole), lit(0.0)))
    val waterline = when(col("k") < col("n_src"),
      round((lit(budget) - col("p_k"))
        / (col("n_src") - col("k")).cast("double"), 6))
    kP.select(col(sourceCol), col("n_supply"),
      round(col("cap"), 6).as("cap"), col("capped"),
      when(col("capped") === 1, round(col("cap"), 6))
        .otherwise(waterline).as("alloc"),
      round(when(col("capped") === 1, round(col("cap"), 6))
        .otherwise(waterline) / col("n_supply").cast("double"), 6)
        .as("epochs_used"))
  }
}
