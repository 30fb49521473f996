package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.10):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  * - exact dedup = one hash-shuffle groupBy on a 16-byte digest, with
  *   map-side partial aggregation;
  * - MinHash/LSH = shingle → signature (one narrow pass), band →
  *   bucket-join (shuffle on band keys only, never all-pairs), exact
  *   Jaccard verify only on bucket collisions;
  * - n-gram Jaccard all-pairs is the *verification baseline* — its
  *   shingle-inverted-index join explodes quadratically per bucket and is
  *   only for modest corpora / final verification of LSH candidates;
  * - SimHash = per-doc 32-bit signature (one pass), near-dup = signatures
  *   at small Hamming distance.
  *
  * All hash functions are md5-based so every stage is reproducible in any
  * engine (and in the DuckDB oracle) — no engine-private hash.
  */
object TextDedup {

  /** Word n-gram shingles, de-duplicated per document. Documents with
    * fewer than `n` tokens yield an empty array (the contract
    * [[graft.functions.ShingleHashes]] implements natively) — the guard is
    * load-bearing: Spark's `sequence(1, 0)` is the DESCENDING array
    * `[1, 0]` (not empty like DuckDB's generate_series), and `slice` then
    * throws on the 0 start index. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextStats.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Portable 32-bit hash of a shingle under seed `i`: first 8 hex chars of
    * md5("<seed>:<shingle>") as an unsigned long. */
  def seededHash(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), s)), 1, 8), 16, 10)
      .cast("long")

  /** Base 32-bit content hash (ONE md5 per shingle — the only expensive
    * hash; all MinHash seeds derive from it arithmetically). */
  def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Universal-hash family over the base hash: h_i(x) = (a_i·x + b_i) mod p
    * with p = 2^31-1 and a_i < 2^30, so products stay inside int64 in any
    * engine. Cheap integer math replaces per-seed md5 — HOF lambdas run
    * interpreted, so hash count is the whole MinHash cost. */
  val minhashP: Long = 2147483647L
  val minhashA: Seq[Long] = Seq(727938331L, 941083981L, 536870923L,
    824633789L, 426752539L, 986106731L, 315432781L, 678910987L)
  val minhashB: Seq[Long] = Seq(886116853L, 665772893L, 373587883L,
    854775211L, 741103597L, 174440041L, 275604541L, 984107441L)

  def affineHash(h: Column, i: Int): Column =
    (h * lit(minhashA(i)) + lit(minhashB(i))) % lit(minhashP)

  /** MinHash signature from a pre-computed base-hash array column. Callers
    * should project the hash array first (see [[minhashNearDups]]) so the
    * md5 pass runs once, not once per seed. */
  def signatureFromHashes(hs: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(hs, h => affineHash(h, i)))): _*)

  /** Convenience single-expression signature (recomputes the md5 pass per
    * seed — prefer the projected two-step form on hot paths). */
  def minhashSignature(text: Column, n: Int, k: Int): Column =
    signatureFromHashes(transform(shingles(text, n), baseHash(_)), k)

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`
    * values, each band rendered as "b:<v1>,<v2>" strings. Docs sharing any
    * band key are near-dup candidates. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws(",",
        lit(b.toString),
        concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
    }: _*)

  /** Exact-dedup: group by content fingerprint; emit one representative
    * (min id) per distinct content + the duplicate count. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("representative_id"),
        count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — dedup an INCOMING batch against an
    * existing fingerprint index without ever re-reading the old corpus:
    * the shape a 100 TB ingestion pipeline actually needs (the full
    * corpus is petabytes; the index is one (fp, representative_id) row
    * per distinct content, kilobytes per terabyte of text).
    *
    * Returns (survivors, updatedIndex): survivors are incoming rows that
    * are first-of-fingerprint within the batch (min id) AND absent from
    * the index; updatedIndex = index ∪ the survivors' entries, same
    * schema, ready for the next batch. Cost: one hash aggregate over the
    * batch + one anti-join + one semi-join against the index — all keyed
    * on `fp`, so an index stored bucketed by fp ([[graft.sinks.Sinks]]
    * bucketed sink) joins exchange-free on the index side. */
  def incrementalDedup(incoming: DataFrame, textCol: String, idCol: String,
      index: DataFrame): (DataFrame, DataFrame) = {
    // internal working columns use reserved names: silently overwriting
    // (and then dropping) a caller's own `fp` column would corrupt the
    // batch with no error
    Seq("__graft_fp", "__graft_keep").foreach { c =>
      require(!incoming.columns.contains(c),
        s"incoming batch may not carry reserved column $c")
    }
    val withFp = incoming.withColumn("__graft_fp",
      TextStats.fingerprint(col(textCol)))
    val novel = withFp.groupBy(col("__graft_fp"))
      .agg(min(col(idCol)).as("representative_id"))
      .join(index.select(col("fp").as("__graft_fp")), Seq("__graft_fp"),
        "left_anti")
    val survivors = withFp
      .join(novel.select(col("__graft_fp"),
        col("representative_id").as("__graft_keep")), Seq("__graft_fp"))
      .filter(col(idCol) === col("__graft_keep"))
      .drop("__graft_keep", "__graft_fp")
    (survivors, index.select("fp", "representative_id")
      .unionByName(novel.select(col("__graft_fp").as("fp"),
        col("representative_id"))))
  }

  /** C4-style boilerplate-line removal (Raffel et al. 2020 §2.2: lines
    * that recur across many pages — nav bars, cookie banners, license
    * headers — are template noise, not content): any line whose
    * normalized fingerprint occurs in at least `minDocs` DISTINCT
    * documents is removed from every document; per-doc line order is
    * preserved and fully-boilerplate documents survive as empty text.
    *
    * Returns (idCol, cleaned, n_removed).
    *
    * Scale (100 TB): lines explode to (line_fp, pos, line) — the global
    * frequency is a two-level hash aggregate on the 16-byte digest
    * (per-doc distinct first, so a line repeated inside one doc counts
    * once; both levels combine map-side). The boilerplate set (freq ≥
    * minDocs) is tiny by construction — a template line appears in
    * thousands of docs, so the set is ~corpus/minDocs rows — and joins
    * back as a broadcast-able left-anti on the fingerprint. Reassembly
    * is one shuffle on the doc id. No stage is all-pairs, and only
    * fingerprints cross the frequency shuffle, never line text.
    *
    * Blank/whitespace-only lines are EXEMPT from the frequency rule
    * (C4 does the same): they are structure, not boilerplate — without
    * the exemption any corpus with paragraph breaks would classify the
    * empty-line fingerprint as boilerplate and silently delete every
    * paragraph separator. */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      minDocs: Int): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("pos"), col("col").as("line"),
        TextStats.fingerprint(col("line")).as("line_fp"))
    val boilerplate = lines
      .filter(length(trim(col("line"))) > 0)
      .select(col("line_fp"), col(idCol)).distinct()
      .groupBy("line_fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line_fp")
    val kept = lines.join(boilerplate, Seq("line_fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("cleaned"),
        count(lit(1)).cast("int").as("n_kept"))
    df.select(col(idCol),
        size(split(col(textCol), "\n")).as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0))).as("n_removed"))
  }

  /** Deterministic train/val/test split: bucket = content-independent
    * 32-bit hash of the id, mod 100 — stable across runs, engines, row
    * order, and partitioning (never `rand()`: a retry or a different
    * layout would silently reshuffle the split). Pure projection, no
    * shuffle; exact expected fractions, not exact counts (the standard
    * trade for a stateless assignment). */
  def hashSplit(df: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val bucket = baseHash(col(idCol).cast("string")) % 100
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Benchmark decontamination scan: corpus documents sharing at least
    * `minShared` distinct word `n`-gram shingles with any benchmark
    * document — the contamination check every serious training-data
    * pipeline runs before training (don't train on the test set).
    *
    * Returns (idCol, benchIdCol, n_shared).
    *
    * Scale (100 TB): benchmark suites are tiny by construction, so the
    * exploded benchmark shingle set BROADCASTS — the corpus side streams
    * through a map-side hash join with no shuffle; the only exchange is
    * the (doc, bench) count, bounded by actual collisions. */
  def benchmarkContamination(docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, benchIdCol: String,
      n: Int = 3, minShared: Int = 5): DataFrame = {
    val d = docs.select(col(idCol),
      explode(shingles(col(textCol), n)).as("sh"))
    val b = bench.select(col(benchIdCol),
      explode(shingles(col(textCol), n)).as("sh"))
    d.join(broadcast(b), Seq("sh"))
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[benchmarkContamination]] with a Bloom-filter pre-filter: the
    * benchmark shingle set is compressed to an `mBits`-bit bitmap
    * (`numHashes` universal hashes per shingle — the MinHash coefficient
    * family via [[Sketches.cmsBuckets]]), collected once (≤ mBits/64
    * longs — 8 KB at the default m, the tiny-stats exception to the
    * no-collect rule) and shipped to every task as ONE array literal.
    * Corpus shingles test `numHashes` bits before touching the verify
    * join.
    *
    * Returns EXACTLY what [[benchmarkContamination]] returns: Bloom
    * filters have no false negatives (every benchmark shingle's bits are
    * set), and false positives only add candidates the exact verify join
    * then drops.
    *
    * Why at 100 TB: the exact path must build a hash relation of the
    * full benchmark SHINGLE STRINGS per task. When the combined
    * benchmark suite outgrows the broadcast budget, that join degrades
    * to a corpus-wide shuffle — while the bitmap stays a few KB
    * regardless, prunes the corpus side map-side to actual near-matches,
    * and only the pruned remainder enters the join. */
  def benchmarkContaminationBloom(docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, benchIdCol: String,
      n: Int = 3, minShared: Int = 5,
      mBits: Int = 1 << 16, numHashes: Int = 3): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val reserved = "__bm" +: (0 until numHashes).map(i => s"__p$i")
    require(!docs.columns.exists(reserved.contains),
      s"columns ${reserved.mkString(", ")} are reserved")
    val bsh = graft.ops.CacheScope.persist(
      bench.select(col(benchIdCol), explode(shingles(col(textCol), n)).as("sh")))
    val bitmap = Sketches.bloomBitmap(bsh, "sh", mBits, numHashes)
    val dsh = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
      .select((col(idCol) +: col("sh") +:
        Sketches.cmsBuckets(col("sh"), numHashes, mBits)
          .zipWithIndex.map { case (c, i) => c.as(s"__p$i") }): _*)
      .withColumn("__bm", typedLit(bitmap.toSeq))
    val member = Sketches.bloomMemberExpr("__bm",
      (0 until numHashes).map(i => s"__p$i"))
    dsh.filter(member).select(col(idCol), col("sh"))
      .join(broadcast(bsh), Seq("sh"))
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate n-gram coverage (the Gopher / RefinedWeb "dup n-gram
    * fraction" gate): per document, the fraction of its tokens covered
    * by word n-grams that also occur in at least one OTHER document.
    * Documents over a threshold are boilerplate/mirror suspects that
    * whole-document dedup (exact or MinHash) misses because the
    * SURROUNDING text differs.
    *
    * Returns (idCol, n_tokens, dup_ngram_frac) for every input doc.
    *
    * Plan shape: positional gram hashes (one md5 per gram, position
    * kept), cross-doc duplicated grams via a (hash → distinct-doc count)
    * aggregate, join back on the hash, then per doc an interval-union
    * fold over the SORTED duplicated-gram start positions (each gram
    * covers [i, i+n-1]; the union length is exactly the distinct covered
    * position count, without materializing n rows per gram and
    * distinct-shuffling them). Every shuffle keys on a high-cardinality
    * column (gram hash / doc id) with map-side partials — no windows, no
    * all-pairs. The tokenize+hash projection (the dominant CPU cost)
    * runs exactly once: repartitioned for parallelism, persisted, and
    * eagerly built before its independent consumer stages. */
  def dupNgramCoverage(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val emptyGrams = array().cast("array<struct<i:int,gh:bigint>>")
    // Repartition BEFORE the gram projection: one md5 per gram is the
    // dominant CPU cost, and a small input (one parquet file → 1-2 scan
    // partitions) would otherwise run it near-serially regardless of
    // cores. The shuffle moves only raw (id, text) rows — far cheaper
    // than serializing the hashed gram arrays it unlocks parallelism for.
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    // ONE tokenize+hash pass for everything: (id, n_tok, grams) is
    // persisted, and the gram explode, the dup-gram aggregate and the
    // final (id, n_tok) base all read the cache. Eager count(): the
    // downstream consumers are INDEPENDENT stages that AQE submits
    // concurrently — both would race to compute the not-yet-materialized
    // cache and the hashing would run twice.
    val withG = graft.ops.CacheScope.persist(
      spread.select(col(idCol).as("id"), size(toks).as("n_tok"),
        when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => struct(i.as("i"),
              baseHash(concat_ws(" ", slice(toks, i, lit(n)))).as("gh"))))
          .otherwise(emptyGrams).as("grams")))
    withG.count()
    val exploded = withG.select(col("id"), explode(col("grams")).as("g"))
      .select(col("id"), col("g.i").as("i"), col("g.gh").as("gh"))
    val dupGrams = exploded.groupBy(col("gh"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    // covered tokens = |union of [s, s+n-1]| over sorted starts: one
    // (id)-keyed agg + a codegen fold; (i) is unique per (id, gram) so
    // the fold sees each start once
    val covered = exploded.join(dupGrams, Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("i"))).as("starts"))
      .select(col("id"),
        aggregate(col("starts"),
          struct(lit(0L).as("cov"), lit(-1L).as("end")),
          (acc, s) => {
            val hi = (s + (n - 1)).cast("long")
            struct(
              (acc.getField("cov") + greatest(lit(0L),
                hi - greatest(acc.getField("end"), (s - 1).cast("long"))))
                .as("cov"),
              greatest(acc.getField("end"), hi).as("end"))
          },
          acc => acc.getField("cov")).as("n_cov"))
    withG.select(col("id"), col("n_tok"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tok").as("n_tokens"),
        round(coalesce(col("n_cov"), lit(0L)) / col("n_tok").cast("double"),
          6).as("dup_ngram_frac"))
  }

  /** MinHash+LSH candidate pairs with exact Jaccard verification.
    * Returns (id_a, id_b, jaccard) for verified pairs ≥ `threshold`.
    *
    * Plan shape: project signatures → explode band keys → self-join on the
    * band key (the ONLY shuffle, sized by bucket collisions, not n²) →
    * distinct candidate pairs → exact Jaccard on the pair's shingle sets.
    */
  /** MinHash-LSH candidate pairs with their shingle-hash sets attached:
    * (id_a, id_b, hs_a, hs_b, inter). The shared front half of every
    * LSH-verified metric (Jaccard, containment). */
  private def lshCandidates(df: DataFrame, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    // the whole shingle→hash pipeline is ONE native expression per doc
    // (graft.functions.ShingleHashes); metrics verify over the hash
    // SETS (identical formula on the oracle side), so shingle strings
    // never materialize. The band explode/self-join shuffles only
    // (id, band) pairs; hash arrays join back by id for the verify.
    // PERSISTED (r14 opt): this frame feeds THREE consumers — the band
    // projection and both per-side hash-set join-backs (aliased id_a /
    // id_b, so their exchanges never canonicalize to one reuse) —
    // and without the pin the shingle+hash pass, the dominant CPU cost
    // of the whole candidate stage, re-executed once per consumer
    // (3 full shingle passes of the corpus at any scale).
    val withHs = graft.ops.CacheScope.persist(
      df.select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingle_hashes(col(textCol), n)
          .as("hs")))
    // eager: the three consumers are INDEPENDENT leaf stages that AQE
    // submits concurrently — racing the unfilled cache, each would
    // compute the shingle pass itself (the dupNgramCoverage lesson)
    withHs.count()
    // signature projected once so the band slices don't re-inline it
    val banded = withHs
      .select(col("id"), signatureFromHashes(col("hs"), k).as("sig"))
      .select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val a = banded.select(col("band"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("id").as("id_b"))
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(withHs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(withHs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
  }

  /** Archive-side LSH index — the persisted artifact incremental
    * near-dedup probes instead of ever re-shingling the archive:
    * (band, id) bucket keys plus (id, hs) hash sets for the verify.
    * In production both frames live bucketed BY BAND / BY ID on disk;
    * a micro-batch probes only colliding buckets. */
  def lshIndex(archive: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4)
      : (DataFrame, DataFrame) = {
    val rowsPerBand = k / bands
    val withHs = archive.select(col(idCol).as("id"),
      graft.functions.ShingleHashes.shingle_hashes(col(textCol), n)
        .as("hs"))
    val banded = withHs
      .select(col("id"), signatureFromHashes(col("hs"), k).as("sig"))
      .select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    (banded, withHs)
  }

  /** Incremental NEAR-dedup — [[incrementalDedup]]'s posture (the
    * archive is present only as its INDEX, never re-read or
    * re-shingled) lifted from exact fingerprints to MinHash-LSH: each
    * incoming doc shingles once, bands against the archive's
    * (band, id) index, and Jaccard-verifies only the band collisions —
    * the archive hash sets are fetched BY ID for surviving candidates.
    *
    * Scale: the band join shuffles (band, id) pairs only; candidates
    * are collision-bounded (never incoming × archive); within-batch
    * duplication is [[minhashNearDups]]'s job on the batch alone —
    * the standard split.
    *
    * Output: (doc_id, archive_id, jaccard) for pairs ≥ threshold. */
  def incrementalLshPairs(incoming: DataFrame, textCol: String,
      idCol: String, indexBands: DataFrame, indexHashes: DataFrame,
      n: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (incBands, incHashes) = lshIndex(
      incoming.select(col(idCol), col(textCol)), textCol, idCol,
      n, k, bands)
    lshProbePairs(incBands, incHashes, indexBands, indexHashes, threshold)
  }

  /** The probe-only half of [[incrementalLshPairs]], over PRE-COMPUTED
    * incoming band/hash frames (both in [[lshIndex]] layout: (id, band)
    * and (id, hs)) — split out so a caller that ALSO appends the batch
    * to the archive index (the growing-archive streaming shape,
    * [[graft.streaming.StreamPipeline.dedupLshGrowAvailableNow]])
    * shingles each batch exactly once, feeding the same frames to the
    * probe and to the index append instead of re-deriving them. */
  def lshProbePairs(incBands: DataFrame, incHashes: DataFrame,
      indexBands: DataFrame, indexHashes: DataFrame,
      threshold: Double): DataFrame =
    incBands
      .join(indexBands.select(col("band"), col("id").as("archive_id")),
        Seq("band"))
      .select(col("id"), col("archive_id"))
      .dropDuplicates("id", "archive_id")
      .join(incHashes.select(col("id"), col("hs").as("hs_i")), Seq("id"))
      .join(indexHashes.select(col("id").as("archive_id"),
        col("hs").as("hs_a")), Seq("archive_id"))
      .withColumn("inter", size(array_intersect(col("hs_i"), col("hs_a"))))
      .withColumn("uni",
        size(col("hs_i")) + size(col("hs_a")) - col("inter"))
      .withColumn("jaccard",
        round(col("inter") / col("uni").cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("doc_id"), col("archive_id"), col("jaccard"))

  /** MinHash ESTIMATOR-ERROR eval — "measure, don't guess" applied to
    * the signature itself (the `ext_sketch_quantile_error` contract,
    * one approximation earlier in the pipeline): for every LSH
    * candidate pair, the k-component signature-agreement estimate of
    * Jaccard (the quantity MinHash actually promises, E[agree/k] = J)
    * next to the EXACT hash-set Jaccard the verify step computes. The
    * per-pair error is what a platform team reads before trusting a
    * (k, bands) setting enough to SKIP the exact verify at 100 TB —
    * the tuning table for the cheap-probe/exact-verify trade.
    *
    * Scale: exactly the [[minhashNearDups]] plan (banded candidates,
    * never all-pairs) plus one zip_with/aggregate projection per
    * surviving pair; signatures ride the same by-id joins the hash
    * sets already take. Determinism: the estimate is m/k with m
    * integral (exact binary at k = 8), the exact side is the shared
    * 6-dp round — the error of two identical doubles is itself
    * engine-identical. */
  def minhashEstimatorErrors(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, k: Int = 8, bands: Int = 4)
      : DataFrame = {
    val rowsPerBand = k / bands
    val withHs = df.select(col(idCol).as("id"),
      graft.functions.ShingleHashes.shingle_hashes(col(textCol), n)
        .as("hs"))
    val withSig = withHs.select(col("id"), col("hs"),
      signatureFromHashes(col("hs"), k).as("sig"))
    val banded = withSig.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val a = banded.select(col("band"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("id").as("id_b"))
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(withSig.select(col("id").as("id_a"), col("hs").as("hs_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("hs").as("hs_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("exact_jaccard", round(col("inter") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
          .cast("double"), 6))
      .withColumn("est_jaccard", round(
        aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k, 6))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("exact_jaccard"),
        round(col("est_jaccard") - col("exact_jaccard"), 6)
          .as("signed_err"),
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6)
          .as("abs_err"))
  }

  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    lshCandidates(df, textCol, idCol, n, k, bands)
      .withColumn("uni",
        size(col("hs_a")) + size(col("hs_b")) - col("inter"))
      .withColumn("jaccard",
        round(col("inter") / col("uni").cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Cross-split near-duplicate leakage — the split-hygiene audit every
    * training pipeline needs AFTER a random split: a hash split assigns
    * near-identical documents to different splits, so the eval set
    * silently contains paraphrases of training rows and eval scores
    * inflate. Reports every MinHash-LSH near-dup pair whose two sides
    * land in DIFFERENT [[hashSplit]] buckets, with both split labels.
    *
    * Scale: exactly the [[minhashNearDups]] plan (banded LSH self-join,
    * never all-pairs) plus two broadcast-sized hash joins onto the tiny
    * (id, split) projection; the split labels attach AFTER the pair
    * filter, so only surviving pairs are joined. */
  def splitLeakage(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val pairs = minhashNearDups(df, textCol, idCol, n, k, bands, threshold)
    val splits = hashSplit(df.select(col(idCol)), idCol, trainPct, valPct)
    pairs
      .join(splits.select(col(idCol).as("id_a"), col("split").as("split_a")),
        Seq("id_a"))
      .join(splits.select(col(idCol).as("id_b"), col("split").as("split_b")),
        Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** Containment (asymmetric Jaccard) pairs: |A∩B| / min(|A|,|B|) —
    * flags PARTIAL duplication (one doc quoting or embedding most of a
    * smaller one) that the symmetric Jaccard misses once sizes diverge.
    *
    * Honest recall caveat, documented rather than hidden: candidates
    * come from the same symmetric MinHash banding, so a small doc buried
    * inside a much larger one may never band-collide (its shingles are a
    * minority of the big doc's MinHash draw). Catching those requires
    * asymmetric schemes; within moderate size ratios — the common
    * near-dup case — this shares the banding's collision bound. */
  def minhashContainmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.8): DataFrame =
    lshCandidates(df, textCol, idCol, n, k, bands)
      .withColumn("containment",
        round(col("inter") /
          least(size(col("hs_a")), size(col("hs_b"))).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Edit-distance near-dup pairs: MinHash-LSH candidate generation
    * (bucketed band self-join — never all-pairs) verified with exact
    * character-level Levenshtein distance. The standard fuzzy-dedup
    * composition at scale: banding bounds the candidate set by band
    * collisions while the O(|a|·|b|) DP verify runs only on pairs that
    * already share signature bands. Genuinely-close strings (a few char
    * edits) share almost all shingles, so they band-collide with
    * probability ≈ 1 and recall tracks the Jaccard banding bound; the
    * caveat is inherited from [[minhashNearDups]] and documented, not
    * hidden.
    *
    * The Spark side uses the THRESHOLDED Levenshtein (early-exit DP,
    * added in Spark 3.5): a pair whose distance exceeds `maxDist`
    * abandons the DP after the band of width 2·maxDist+1 diverges,
    * so the verify cost per candidate is O(maxDist · max(|a|,|b|)),
    * not O(|a|·|b|). `-1` marks "exceeded" and is filtered; results are
    * provably identical to plain-distance-then-filter (the oracle states
    * that naive form).
    *
    * Returns (id_a, id_b, dist, edit_sim) with dist ≤ maxDist and
    * edit_sim = 1 − dist / max(len_a, len_b) rounded 6 dp. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4, maxDist: Int = 8): DataFrame = {
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    lshCandidates(df, textCol, idCol, n, k, bands)
      .select("id_a", "id_b")
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .withColumn("edit_sim", round(lit(1.0) - col("dist") /
        greatest(length(col("t_a")), length(col("t_b"))).cast("double"), 6))
      .select("id_a", "id_b", "dist", "edit_sim")
  }

  /** All-pairs n-gram Jaccard over an inverted shingle index — the exact
    * baseline used to verify LSH recall (quadratic per shared shingle;
    * not the 100 TB path).
    *
    * The index carries only (hash, id, set_size) — set sizes are
    * projected BEFORE the explode, so no shingle array ever crosses the
    * join shuffle; shingles are the 32-bit [[graft.functions.ShingleHashes]]
    * set (one native pass per doc), the same measure the MinHash verify
    * step and its oracle use. */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3): DataFrame = {
    val withHs = df.select(col(idCol).as("id"),
      graft.functions.ShingleHashes.shingle_hashes(col(textCol), n).as("hs"))
    val inv = withHs.select(col("id"), size(col("hs")).as("nsh"),
      explode(col("hs")).as("h"))
    val a = inv.select(col("h"), col("id").as("id_a"), col("nsh").as("n_a"))
    val b = inv.select(col("h"), col("id").as("id_b"), col("nsh").as("n_b"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("n_a")).as("size_a"),
        first(col("n_b")).as("size_b"))
      .withColumn("jaccard", round(col("inter")
        / (col("size_a") + col("size_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PREFIX-FILTERED exact Jaccard-threshold join (Bayardo, Ma &
    * Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search"; the
    * SSJoin/PPJoin family) — output-identical to [[ngramJaccardPairs]]
    * at the same threshold, with a provably LOSSLESS candidate cut:
    * under one global order of the shingle hashes, two sets with
    * J(A,B) ≥ θ share ≥ ⌈θ·|A|⌉ elements (|A∩B| ≥ θ|A∪B| ≥ θ|A|), so
    * their first |s| − ⌈θ·|s|⌉ + 1 elements must intersect — only
    * those PREFIX hashes enter the inverted index. At θ = 0.5 the
    * index (and the candidate shuffle it feeds) carries half the
    * corpus' shingle volume; at θ = 0.8, a fifth — the knob that makes
    * an EXACT threshold join viable at 100 TB where the full inverted
    * index drowns in its hottest shingles. Survivors verify with the
    * exact full-set intersection, so no false positive escapes.
    *
    * Scale: one array_sort per doc (shingle sets are document-sized),
    * the prefix inverted index shuffles (hash, id) pairs only, and
    * the verify joins full hash arrays back BY ID for candidate pairs
    * alone — the [[minhashNearDups]] fetch pattern with an exactness
    * guarantee instead of a probabilistic one. */
  def prefixFilterJaccardPairs(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs 0 < threshold <= 1, got $threshold")
    val withHs = df.select(col(idCol).as("id"),
      array_sort(graft.functions.ShingleHashes
        .shingle_hashes(col(textCol), n)).as("hs"))
    val prefix = withHs.select(col("id"),
      explode(slice(col("hs"), lit(1),
        (size(col("hs"))
          - ceil(size(col("hs")) * lit(threshold)).cast("int") + 1)
          .cast("int"))).as("h"))
    val a = prefix.select(col("h"), col("id").as("id_a"))
    val b = prefix.select(col("h"), col("id").as("id_b"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(withHs.select(col("id").as("id_a"), col("hs").as("hs_a")),
        Seq("id_a"))
      .join(withHs.select(col("id").as("id_b"), col("hs").as("hs_b")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", round(col("inter")
        / (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
          .cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** ROUGE-N (distinct-gram form) for EXPLICIT (candidate, reference)
    * pairs: n-gram set overlap → recall |A∩B|/|B|, precision
    * |A∩B|/|A|, F1 — the summarization/compression-eval metric, used
    * in a data pipeline to score candidate rewrites/augmentations
    * against their sources before admitting them to training. Shingle
    * sets are [[shingles]] (lowercased, distinct), so the metric is the
    * set variant (each distinct n-gram counts once — the common
    * implementation choice for dedup-adjacent scoring).
    *
    * Scale: the pair list is an input (typically LSH/band candidates —
    * bounded), and the cost is two id-keyed joins carrying one shingle
    * array per side plus a stateless array intersection — no
    * corpus×corpus term, no window. Zero-gram sides score NULL-free
    * via explicit guards (empty reference → recall 0). */
  def rougeN(docs: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame, n: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("__rid"),
      shingles(lower(col(textCol)), n).as("__sh"))
    val joined = pairs
      .join(sh.select(col("__rid").as("cand_id"), col("__sh").as("sa")),
        Seq("cand_id"))
      .join(sh.select(col("__rid").as("ref_id"), col("__sh").as("sb")),
        Seq("ref_id"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val rec = when(size(col("sb")) > 0,
      round(inter / size(col("sb")).cast("double"), 6)).otherwise(0.0)
    val prec = when(size(col("sa")) > 0,
      round(inter / size(col("sa")).cast("double"), 6)).otherwise(0.0)
    joined.select(col("cand_id"), col("ref_id"),
      inter.as("n_overlap"),
      size(col("sa")).as("n_cand"), size(col("sb")).as("n_ref"),
      rec.as("rouge_recall"), prec.as("rouge_precision"))
      .withColumn("rouge_f1",
        when(col("rouge_recall") + col("rouge_precision") > 0,
          round(lit(2.0) * col("rouge_recall") * col("rouge_precision")
            / (col("rouge_recall") + col("rouge_precision")), 6))
          .otherwise(0.0))
  }

  /** Connected components over near-duplicate pairs — the step that turns
    * pairwise dedup output into per-document keep/drop decisions: every
    * document is labeled with its component's MINIMUM id (the kept
    * representative); documents in no pair are their own representative.
    *
    * Algorithm: min-label propagation ACCELERATED by pointer jumping
    * (path doubling). Each round every node first takes the min of its
    * own label and its neighbors' labels (one shuffle-join + partial-min
    * aggregate), then SHORTCUTS through its current representative:
    * rep ← label(rep) (one more keyed self-join). Labels are monotone
    * non-increasing and every label is always a reachable node's id, so
    * the shortcut preserves correctness while the known-min distance
    * information doubles per round — convergence in O(log diameter)
    * rounds instead of diameter rounds. On a near-dup corpus (shallow
    * components) that saves little; on a 100 TB web-link graph with
    * diameter in the tens it is the difference between ~6 and ~40
    * shuffle rounds (the same regime as the alternating star
    * contractions of Kiveris et al. 2014, with simpler invariants).
    * The label sum is monotonically non-increasing, making it an exact,
    * cheap convergence test; the iteration materializes each round so
    * lineage stays flat, and `maxIter` stays a runaway bound.
    */
  def connectedComponents(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // cached: every round's join re-reads the edge set, and the pair
    // mining upstream (LSH/banding) is far too expensive to re-run per
    // round; scope-released after the caller's action
    val edges = graft.ops.CacheScope.persist(pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionAll(pairs
        .select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst"))))
    // Iterate pins every round: the pointer-jump self-join would
    // otherwise DOUBLE the logical plan every round, and it joins the
    // pin WITH ITSELF, the sizeInBytes-squaring shape the stats reset
    // exists for. The label sum is the convergence measure.
    // coalesce: sum over an EMPTY corpus is NULL — an upstream gate that
    // drops every document must converge to an empty label set, not throw
    val (labels, converged) = graft.ops.Iterate.untilStable(
        docs.select(col(idCol).cast("long").as("id"),
          col(idCol).cast("long").as("rep")), maxIter)(
        _.agg(coalesce(sum("rep"), lit(0L))).head().getLong(0))(
      { labels =>
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("rep").as("nrep")),
            Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("nrep")).as("nbr_rep"))
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
      },
      // pinned BEFORE the self-join (the step above): propagated feeds
      // both sides, and without the pin the propagate join +
      // min-aggregate subtree would execute twice inside every round's
      // job — doubling the per-round shuffle work on exactly the large
      // graphs the path-doubling targets. Pointer jump: rep ←
      // label(rep). Every rep IS some node's id (min over node ids), so
      // the self-join always matches; labels only decrease, so
      // shortcutting cannot overshoot the component min.
      { propagated =>
        propagated
          .join(propagated.select(col("id").as("rep"),
            col("rep").as("rep2")), Seq("rep"), "left")
          .select(col("id"),
            least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"))
      })
    // non-convergence must FAIL, not return wrong labels: min-label
    // propagation needs (component diameter) rounds, so a 22-doc chain
    // of pairwise near-dups would exit a silent cap with the far end
    // carrying the wrong rep_id — and the recursive-CTE oracle (exact
    // transitive closure) would expose it as a hash mismatch. maxIter is
    // a runaway bound, not an answer.
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — a " +
        s"component's diameter exceeds the cap; raise maxIter " +
        s"(label-propagation rounds needed = component diameter)")
    labels.select(col("id").as(idCol), col("rep").as("rep_id"))
  }

  /** SimHash near-duplicate pairs by banded Hamming join.
    *
    * Pigeonhole banding: a 32-bit signature split into `bands` equal
    * bands — two signatures within Hamming distance `bands − 1` must
    * agree on at least one whole band, so the self-join runs on
    * (band_index, band_value) keys only (never all-pairs, same shape as
    * the MinHash band join), and `bit_count(xor)` verifies the true
    * distance on collisions. `maxHamming` defaults to `bands − 1`, the
    * largest distance banding guarantees to recall completely. */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, bands: Int = 4, maxHamming: Int = -1): DataFrame = {
    val bandWidth = 32 / bands
    val maxH = if (maxHamming >= 0) maxHamming else bands - 1
    val withSig = df.select(col(idCol).as("id"),
      simhash(col(textCol), n).as("sig"))
    val banded = withSig.select(col("id"), col("sig"),
      explode(array((0 until bands).map(i => struct(
        lit(i).as("b"),
        shiftright(col("sig"), i * bandWidth)
          .bitwiseAND(lit((1L << bandWidth) - 1)).as("v"))): _*)).as("band"))
      .select(col("id"), col("sig"),
        col("band.b").as("b"), col("band.v").as("v"))
    val a = banded.select(col("b"), col("v"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("b"), col("v"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("b", "v"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= maxH)
      .select("id_a", "id_b", "hamming")
  }

  /** 32-bit SimHash signature: sign-sum of per-shingle hash bits.
    *
    * Single aggregate pass with an int-array accumulator: each shingle is
    * md5-hashed ONCE and its 32 sign contributions folded via zip_with —
    * a per-bit aggregate would re-hash every shingle 32×, and HOF lambdas
    * run interpreted, so the hash count is the whole cost. Bit j of the
    * hash is extracted as `(h div 2^j) % 2` (h < 2^32, exact in double).
    */
  def simhash(text: Column, n: Int = 3): Column = {
    val sh = shingles(text, n)
    val bitSums = aggregate(
      sh,
      array_repeat(lit(0), 32),
      (acc, s) => {
        val h = seededHash(s, 0)
        zip_with(acc, sequence(lit(0), lit(31)), (a, j) =>
          a + when(
            floor(h / pow(lit(2.0), j.cast("double"))).cast("long") % 2 === 1,
            lit(1)).otherwise(lit(-1)))
      })
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(31)), (a, j) =>
        when(a > 0, pow(lit(2.0), j.cast("double")).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Duplicate-span REMOVAL (the excision half of duplicate-passage
    * handling — Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better", RefinedWeb's exact-substring step, adapted
    * to whitespace tokens like [[dupNgramCoverage]], which is the
    * matching detector): every token covered by an `n`-gram that occurs
    * in ≥ `minDocs` DISTINCT documents is cut from the text; the
    * surviving tokens re-join with single spaces (output text is
    * whitespace-normalized by construction).
    *
    * Returns (id, text, n_tokens, n_removed) — `text` cleaned,
    * `n_tokens` the pre-removal count.
    *
    * Scale shape: the tokenize+hash projection runs once (repartitioned,
    * scope-cached, eagerly built — the [[dupNgramCoverage]] notes apply);
    * the dup-gram set is a (hash → distinct-doc count) aggregate; each
    * doc's covered-START list comes back through one (id)-keyed
    * aggregate. Reconstruction is then per-row HOF work: sorted starts
    * fold into DISJOINT merged intervals first (so the per-token
    * membership test is O(intervals), not O(starts) — a fully duplicated
    * document merges to ONE interval), then a position filter + rebuild.
    * No window operator; shuffles carry gram hashes and start indices,
    * never expanded per-position rows. */
  def removeDupSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val reserved = Seq("__toks", "__grams", "__starts", "id")
    require(!docs.columns.exists(c => reserved.contains(c) && c != idCol),
      s"columns ${reserved.mkString(", ")} are reserved")
    val toksC = TextStats.tokens(col(textCol))
    val emptyGrams = array().cast("array<struct<i:int,gh:bigint>>")
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    val withT = graft.ops.CacheScope.persist(
      spread.select(col(idCol).as("id"), toksC.as("__toks"),
        when(size(toksC) >= n,
          transform(sequence(lit(1), size(toksC) - (n - 1)),
            i => struct(i.as("i"),
              baseHash(concat_ws(" ", slice(toksC, i, lit(n)))).as("gh"))))
          .otherwise(emptyGrams).as("__grams")))
    withT.count() // eager: see dupNgramCoverage's AQE race note
    val exploded = withT.select(col("id"), explode(col("__grams")).as("g"))
      .select(col("id"), col("g.i").as("i"), col("g.gh").as("gh"))
    val dupGrams = exploded.groupBy(col("gh"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    val starts = exploded.join(dupGrams, Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("i"))).as("__starts"))

    // sorted starts → disjoint merged [lo, hi] intervals (token positions,
    // 1-based, inclusive; gram at start s covers [s, s+n-1])
    val ivsT = "array<struct<lo:bigint,hi:bigint>>"
    val merged = {
      val st = coalesce(col("__starts"), array().cast("array<int>"))
      val folded = aggregate(st,
        struct(array().cast(ivsT).as("ivs"),
          lit(-1L).as("lo"), lit(-1L).as("hi")),
        (acc, s) => {
          val sL = s.cast("long")
          val hiL = (s + (n - 1)).cast("long")
          val open = acc.getField("lo") >= 0L
          val overlaps = open && sL <= acc.getField("hi") + 1L
          struct(
            when(overlaps || !open, acc.getField("ivs"))
              .otherwise(concat(acc.getField("ivs"),
                array(struct(acc.getField("lo").as("lo"),
                  acc.getField("hi").as("hi"))))).as("ivs"),
            when(overlaps, acc.getField("lo")).otherwise(sL).as("lo"),
            when(overlaps, greatest(acc.getField("hi"), hiL))
              .otherwise(hiL).as("hi"))
        },
        acc => when(acc.getField("lo") >= 0L,
          concat(acc.getField("ivs"), array(struct(
            acc.getField("lo").as("lo"), acc.getField("hi").as("hi")))))
          .otherwise(acc.getField("ivs")))
      folded
    }

    withT.select(col("id"), col("__toks"))
      .join(starts, Seq("id"), "left")
      .select(col("id"), col("__toks"), merged.as("__ivs"))
      .select(
        col("id").as(idCol),
        concat_ws(" ", transform(
          filter(sequence(lit(1), size(col("__toks"))), p =>
            !exists(col("__ivs"), iv =>
              p.cast("long") >= iv.getField("lo")
                && p.cast("long") <= iv.getField("hi"))),
          p => element_at(col("__toks"), p))).as(textCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__ivs"), lit(0L),
          (acc, iv) => acc + iv.getField("hi") - iv.getField("lo") + 1L)
          .as("n_removed"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS algorithm): hash every token `k`-gram, slide a window of
    * `w` consecutive gram hashes, keep each window's MINIMUM, emit the
    * distinct kept hashes per document as (id, fp) rows.
    *
    * The winnowing guarantee: any shared passage of at least `k + w - 1`
    * tokens contributes at least one IDENTICAL fingerprint to both
    * documents — unlike MinHash (whole-document similarity) this finds
    * shared passages with a bounded fingerprint density (≈ 2/(w+1) of
    * grams kept), and unlike [[dupNgramCoverage]] it never materializes
    * every gram into the shuffle: fingerprints are selected per row
    * BEFORE the explode, shrinking the exchanged data ~w-fold.
    *
    * Scale shape: one pure projection per document (tokenize → gram
    * hashes → window minima → distinct, all inside higher-order
    * functions over the token array — per-doc bounded, no window
    * operator, no shuffle until the caller aggregates fingerprints).
    * Documents shorter than `k` tokens emit nothing; docs with fewer
    * than `w` grams emit the single minimum (the MOSS boundary rule for
    * short inputs).
    *
    * Determinism: gram hash = the portable 32-bit md5 prefix
    * ([[baseHash]]), window minima are exact integer comparisons — the
    * DuckDB oracle replays every step bit-for-bit. */
  def winnowFingerprint(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(!docs.columns.contains("__gh"), "column __gh is reserved")
    val toks = TextStats.tokens(col(textCol))
    val grams = when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => baseHash(concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<bigint>"))
    val mins = when(size(col("__gh")) === 0, array().cast("array<bigint>"))
      .when(size(col("__gh")) <= w, array(array_min(col("__gh"))))
      .otherwise(transform(sequence(lit(1), size(col("__gh")) - (w - 1)),
        j => array_min(slice(col("__gh"), j, lit(w)))))
    docs.select(col(idCol), grams.as("__gh"))
      .select(col(idCol), explode(array_distinct(mins)).as("fp"))
  }

  /** Cluster-size histogram over a [[connectedComponents]] labeling —
    * the dedup-observability table (how much of the corpus sits in
    * near-dup clusters of what size; a sudden mass at large sizes means
    * a template/boilerplate source entered the crawl). Two hash
    * aggregates with map-side partials (rep_id, then size) — nothing
    * proportional to pair count survives the first. */
  def clusterSizeHistogram(components: DataFrame): DataFrame =
    components.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Soft deduplication: DOWN-WEIGHT near-duplicates instead of
    * dropping them — every doc in a near-dup cluster of size n carries
    * sampling weight 1/n, so each distinct content unit contributes one
    * unit of training mass regardless of how many copies the crawl
    * caught. Keeps the gradient signal of boilerplate-adjacent docs a
    * hard dedup would discard while neutralizing the duplication bias
    * (the frequency-reweighting alternative to `exactDedup`/
    * `keep-best`; a trainer consumes `weight` as the sampling rate).
    *
    * Scale: cluster sizes are one hash aggregate on the components
    * frame (rep-grain), joined back on rep_id — the join reuses the
    * aggregate's hash partitioning, so the whole policy costs one
    * shuffle past the component mining it shares with every other
    * dedup consumer. */
  def softDedupWeights(components: DataFrame, idCol: String): DataFrame = {
    val sizes = components.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("cluster_size"))
    components.join(sizes, Seq("rep_id"))
      .select(col(idCol), col("rep_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6)
          .as("weight"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * n-grams whose FIRST corpus occurrence (minimum doc id under the
    * corpus's arrival order) is this doc — "how much genuinely new
    * content does this document add", the marginal-contribution
    * curation signal (the set-cover greedy's unit step; complements
    * `dupNgramCoverage`, which asks the opposite question). A doc full
    * of already-seen n-grams scores ~0 even if no single document
    * near-duplicates it — the templated-remix case n-gram Jaccard
    * misses.
    *
    * Scale: distinct n-grams per doc are a pure projection
    * ([[shingles]]); first-owner is ONE n-gram-keyed min aggregate
    * (map-side partials shrink each partition to its distinct grams);
    * the novelty count is the same frame re-joined on (gram,
    * owner = doc) — gram-keyed equi-joins end to end, no windows, no
    * per-doc corpus scan. Docs with < n tokens emit 0 n-grams and are
    * reported with novelty NULL (no opinion, the bigramLmScore rule).
    *
    * Output: (id, n_ngrams, n_novel, novelty) per doc. */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val grams = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"),
        explode(shingles(lower(col(textCol)), n)).as("gram")))
    val firstOwner = grams.groupBy(col("gram"))
      .agg(min(col("id")).as("owner"))
    val perDoc = grams.groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"))
    val novel = grams.join(firstOwner, Seq("gram"))
      .filter(col("owner") === col("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_novel"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .join(novel, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_ngrams") > 0,
          round(coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_ngrams"), 6)).as("novelty"))
  }

  /** Truncation-duplicate pairs — the crawl artifact where one capture
    * is a strict PREFIX of another (partial fetch, pagination cutoff,
    * re-crawl with a longer render). MinHash misses these below ~50%
    * length overlap and exact dedup never fires, so corpus pipelines
    * run a dedicated prefix pass.
    *
    * Candidates come ONLY from an equi-join on the md5 of the first
    * `prefixLen` chars (a truncation pair shares that prefix by
    * definition, provided both survive the `len >= prefixLen` floor);
    * buckets larger than `maxBucket` are pruned first — the stop-term
    * rule applied to prefixes (a boilerplate opening line would
    * otherwise square one bucket). Verification fetches the two texts
    * BY ID only for surviving candidates (the signature frame that
    * rides the self-join is (key, id, len) — full text never crosses
    * that shuffle) and checks the shorter equals the longer's prefix
    * exactly. Equal-length pairs are excluded: same-prefix same-length
    * docs are exact-dedup's domain ([[exactDups]]), not truncations.
    *
    * Output: (id_short, id_long, len_short, len_long, trunc_frac). */
  def truncationPairs(docs: DataFrame, textCol: String, idCol: String,
      prefixLen: Int = 32, maxBucket: Int = 100): DataFrame = {
    val keys = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"),
          md5(substring(col(textCol), 1, prefixLen)).as("pk"),
          length(col(textCol)).as("len"))
        .filter(col("len") >= prefixLen))
    val ok = keys.groupBy(col("pk")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBucket)
      .select(col("pk"))
    val pruned = keys.join(ok, Seq("pk"))
    val cand = pruned.select(col("pk"), col("id").as("id_short"),
        col("len").as("len_short"))
      .join(pruned.select(col("pk"), col("id").as("id_long"),
        col("len").as("len_long")), Seq("pk"))
      .filter(col("len_short") < col("len_long"))
      .select(col("id_short"), col("id_long"),
        col("len_short"), col("len_long"))
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    cand
      .join(texts.select(col("id").as("id_short"), col("t").as("t_s")),
        Seq("id_short"))
      .join(texts.select(col("id").as("id_long"), col("t").as("t_l")),
        Seq("id_long"))
      .filter(expr("substring(t_l, 1, len_short)") === col("t_s"))
      .select(col("id_short"), col("id_long"), col("len_short"),
        col("len_long"),
        round(col("len_short").cast("double") / col("len_long"), 6)
          .as("trunc_frac"))
  }
}
