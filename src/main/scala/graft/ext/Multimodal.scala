package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MediaCodec

/** Multimodal-column plumbing (SURVEY.md §2.10): image/audio/video
  * payloads as `binary` columns with typed metadata, the decode
  * dispatch, and the DataFrame operators above it (perceptual-hash and
  * shared-frame pair miners, the image pipeline, the CLIP-style gate,
  * audio matching and voice activity).
  *
  * Decoding is real for the five containers [[graft.functions.MediaCodec]]
  * parses (WAV, BMP, PPM, PGM, RLE8) and falls back to the byte grid /
  * md5 pseudo-features for anything else (JPEG, FLAC, text), so every
  * consumer is total over arbitrary payloads.
  *
  * Scale: payloads stay binary end-to-end (no driver collection);
  * metadata columns (byte_len, digest, mime) are split out so filters
  * prune on cheap columns without touching payload bytes.
  */
object Multimodal {

  /** Wrap a text column as a fake binary payload (testdata has no real
    * media; the plumbing is payload-agnostic). */
  def asPayload(c: Column): Column = c.cast("binary")

  /** Metadata projection over a binary payload: byte length, md5 digest,
    * sniffed mime tag, and a hex preview of the leading bytes. */
  def withPayloadMeta(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn("byte_len", length(col(payloadCol)))
      .withColumn("digest", md5(col(payloadCol)))
      .withColumn("head_hex", lower(hex(substring(col(payloadCol), 1, 4))))

  /** "Frame sampling": fixed-stride byte slices of the payload — the shape
    * of video frame extraction without a codec. Returns an array of binary
    * chunks. */
  def sampleChunks(payload: Column, chunkLen: Int, stride: Int,
      maxChunks: Int): Column =
    transform(sequence(lit(0), lit(maxChunks - 1)),
      i => payload.substr(i * lit(stride) + lit(1), lit(chunkLen)))

  /** Frame-sampled payload exploded to per-frame ROWS — the fan-out shape
    * a video pipeline feeds downstream (one row per sampled frame, with
    * its index, digest, and stub features). Chunks shorter than
    * `chunkLen` at the payload tail are kept (the "last frame"); empty
    * ones beyond the end are dropped. Pure projections + one
    * `posexplode` — the fan-out multiplies rows, never bytes on the
    * driver. */
  def explodeFrames(df: DataFrame, idCol: String, payloadCol: String,
      chunkLen: Int, stride: Int, maxChunks: Int): DataFrame =
    df.select(col(idCol),
        posexplode(sampleChunks(col(payloadCol), chunkLen, stride, maxChunks))
          .as(Seq("frame_idx", "frame")))
      .filter(length(col("frame")) > 0)
      .select(col(idCol), col("frame_idx"),
        md5(col("frame")).as("frame_digest"),
        decodeFeatures(col("frame")).as("frame_features"))

  /** Pseudo-features for an opaque payload: 4 deterministic doubles in
    * [0,1), each the unsigned big-endian 32-bit word i of the payload's
    * md5 over 2^32, 6 dp. The fallback arm of [[decodeFeatures]]. */
  def fakeDecodeFeatures(payload: Column): Column =
    MediaCodec("raw", "features", 0, payload)

  /** Decode dispatcher: binary in, 4 doubles in [0,1) out. A WAV
    * yields [[WavCodec.waveFeatures]], a BMP/PPM/PGM/RLE8 image
    * [[BmpCodec.bmpFeatures]]' block luminances, anything else
    * [[fakeDecodeFeatures]]. A NULL payload yields 4 NULLs. */
  def decodeFeatures(payload: Column): Column =
    MediaCodec("any", "features", 0, payload)

  /** Pooled-profile dispatcher for the perceptual hashes: a payload in
    * a decodable image format pools its DECODED luminance grid
    * ([[BmpCodec.resizePooledPixels]] — a perceptual fingerprint is
    * defined over pixels, not over a header and row padding);
    * everything else keeps the byte-grid [[resizePooled]]. Both share
    * the partition rule, the NULL-for-empty-cell convention and the
    * 6-dp rounding, so consumers are branch-agnostic. */
  def pooledProfile(payload: Column, k: Int): Column =
    MediaCodec("any", "pooled", k, payload)

  /** Decimal places every pooled cell mean is rounded to. The
    * fixed-point rendering in ExtQueries (`round(v·10^dp)`) is exact
    * ONLY because cells are pre-rounded to this scale; both sides and
    * the oracle SQL derive from this constant. */
  val pooledRoundDp: Int = MediaCodec.roundDp

  /** 10^[[pooledRoundDp]], the matching fixed-point scale. */
  val pooledFpScale: Long = math.pow(10.0, pooledRoundDp).toLong

  /** "Resize" — block-mean pooling of the payload's byte grid down to
    * `k` cells: cell j covers bytes [⌊j·n/k⌋, ⌊(j+1)·n/k⌋); a cell with
    * no bytes (payload shorter than k) is NULL. Byte sums are exact and
    * the divisor small, so a 7th-decimal rounding tie is impossible and
    * the 6-dp round is engine-identical. */
  def resizePooled(payload: Column, k: Int): Column =
    MediaCodec("raw", "pooled", k, payload)

  /** Perceptual hash (aHash family) over an opaque payload: the
    * [[resizePooled]] profile thresholded into one bit per cell, packed
    * MSB-first into a long. The threshold is the GLOBAL byte mean (exact
    * integer sum / n, 6 dp), not the mean of the cell means, whose float
    * sum would be order-dependent. Empty payloads hash to 0. */
  def perceptualHash(payload: Column, k: Int = 16): Column =
    MediaCodec("raw", "phash", k, payload)

  /** Multimodal near-dup candidate pairs by perceptual hash: band the
    * k-bit hash into two halves, self-join on either half (a pair
    * within Hamming ≤ k/2−1 of a half must agree exactly on the other
    * half — the pigeonhole guarantee for distance ≤ maxHamming < k/2
    * whenever one band stays clean), verify `bit_count(xor) ≤
    * maxHamming` on candidates only. The SimHash banding argument
    * applied to payload bytes instead of token sets.
    *
    * Scale: the join keys on (band index, band value) — bucketed
    * equi-join, never all-pairs; verification touches only collisions.
    * Same shape as the MinHash/SimHash pair miners. */
  def phashPairs(df: DataFrame, idCol: String, payloadCol: String,
      k: Int = 16, maxHamming: Int = 3): DataFrame = {
    val sig = graft.ops.CacheScope.persist(
      df.select(col(idCol).cast("long").as("id"),
        perceptualHash(col(payloadCol), k).as("ph")))
    val bands = sig.select(col("id"), col("ph"),
        explode(array(
          struct(lit(0).as("band"), shiftright(col("ph"), k / 2).as("bv")),
          struct(lit(1).as("band"),
            col("ph").bitwiseAND(lit((1L << (k / 2)) - 1)).as("bv"))))
          .as("b"))
      .select(col("id"), col("ph"), col("b.band"), col("b.bv"))
    val a = bands.select(col("id").as("id_a"), col("ph").as("ph_a"),
      col("band"), col("bv"))
    val b = bands.select(col("id").as("id_b"), col("ph").as("ph_b"),
      col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b")).distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** dHash band values from a pre-bound pooled cell-mean array: the
    * GRADIENT-SIGN perceptual hash (difference hash — the LAION-style
    * image-dedup fingerprint), computed over `bands·bandBits + 1`
    * block means so each of the `bands·bandBits` bits is
    * `mean(cell g+1) > mean(cell g)`. Gradient signs are invariant to
    * global brightness shifts that move every cell mean equally —
    * the failure mode of [[perceptualHash]]'s absolute threshold —
    * which is why dHash is the standard re-encode-robust variant.
    *
    * Bits are grouped directly into `bands` band VALUES (bandBits bits
    * each, MSB-first Horner fold), because the banded Hamming join
    * needs exactly those; the full fingerprint is their concatenation.
    * Keeping every value ≤ 2^bandBits−1 also sidesteps the 64-bit
    * sign bit that a single packed long would put in play on both
    * engines. NULL cells (payload shorter than the grid) read as 0.
    *
    * `pooled` MUST be a bound column (a projected [[resizePooled]]
    * result), not an inline expression: the lambda indexes it
    * 2·bands·bandBits times, and an inline tree would re-evaluate the
    * whole pooling per access. Pure codegen HOF projection. */
  def dHashBandsFromPooled(pooled: Column, bands: Int,
      bandBits: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(
        sequence(b * lit(bandBits), (b + lit(1)) * lit(bandBits) - 1),
        lit(0L),
        (acc, g) => acc * lit(2L) + when(
          coalesce(element_at(pooled, g + 2), lit(0.0)) >
            coalesce(element_at(pooled, g + 1), lit(0.0)),
          lit(1L)).otherwise(lit(0L))))

  /** Perceptual near-dup pairs by dHash ([[dHashBandsFromPooled]]):
    * the multimodal image-dedup stage of a LAION-style corpus prep —
    * gradient-sign fingerprint, banded Hamming self-join. With
    * `bands` bands a pair within Hamming ≤ bands−1 must agree exactly
    * on at least one band (pigeonhole), so candidate generation is a
    * bucketed equi-join on (band index, band value) — never all-pairs
    * — and `maxHamming ≤ bands−1` keeps recall exact. Verification
    * (bit_count of per-band xors) touches only collisions.
    *
    * Scale: signature frame is id + bands longs (payload bytes never
    * cross the shuffle); persisted once, feeding both join sides.
    * Same candidate-bound shape as [[phashPairs]] and the
    * SimHash/MinHash pair miners. */
  def dHashPairs(df: DataFrame, idCol: String, payloadCol: String,
      bands: Int = 4, bandBits: Int = 16,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= bands - 1,
      s"pigeonhole recall guarantee needs maxHamming <= bands-1, " +
        s"got $maxHamming vs $bands bands")
    val k = bands * bandBits + 1
    val sig = graft.ops.CacheScope.persist(
      df.select(col(idCol).cast("long").as("id"),
          pooledProfile(col(payloadCol), k).as("_pooled"))
        .select(col("id"),
          dHashBandsFromPooled(col("_pooled"), bands, bandBits)
            .as("bvs")))
    val bandRows = sig.select(col("id"), col("bvs"),
      posexplode(col("bvs")).as(Seq("band", "bv")))
    val a = bandRows.select(col("id").as("id_a"), col("bvs").as("bvs_a"),
      col("band"), col("bv"))
    val b = bandRows.select(col("id").as("id_b"), col("bvs").as("bvs_b"),
      col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("bvs_a"), col("bvs_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        aggregate(
          zip_with(col("bvs_a"), col("bvs_b"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exposure KEEP verdict: an image payload keeps iff neither its dark
    * (luminance < 192 of 765) nor its bright (≥ 576) pixel fraction
    * exceeds half — the `ext_bmp_exposure_gate` rule over DECODED
    * pixels; a payload in no image format passes (no pixels to judge). */
  def exposureKeep(payload: Column): Column =
    MediaCodec("any", "exposure", 0, payload)

  /** END-TO-END image corpus pipeline — the corpusBuild pattern applied
    * to the multimodal column (r11 VERDICT #4): ONE call composing
    * format dispatch → exposure gate on DECODED pixels → dHash banded
    * near-dup pairs → connected components → keep-best (min id per
    * component), with a per-FORMAT funnel receipt, so the dispatcher's
    * routing is visible in OUTPUT (n_docs per format per stage), not
    * only in scaladoc: BMP rows ride the real decode
    * ([[BmpCodec.resizePooledPixels]] inside [[pooledProfile]]), while
    * payloads in no decodable format take the byte-grid fallback and
    * the funnel says so.
    *
    * Returns (kept, funnel): `kept` = (idCol, format) surviving rows;
    * `funnel` = (stage_ord, stage, format, n_docs) —
    * raw / exposure_gate / keep_best × format.
    *
    * Scale: the gate is a row-local projection; pairs are
    * banded-Hamming collision-bounded ([[dHashPairs]] — payload bytes
    * never cross a shuffle, only id + bands longs); components are the
    * pointer-jump label propagation; keep-best one semi-join. Stage
    * survivor frames are CacheScope-pinned (each feeds the next stage
    * and the funnel). */
  def imagePipeline(df: DataFrame, idCol: String, payloadCol: String,
      bands: Int = 4, bandBits: Int = 16, maxHamming: Int = 3)
      : (DataFrame, DataFrame) = {
    val s0 = graft.ops.CacheScope.persist(df.withColumn("format",
      MediaCodec("any", "format", 0, col(payloadCol))))
    val s1 = graft.ops.CacheScope.persist(
      s0.filter(exposureKeep(col(payloadCol))))
    val pairs = dHashPairs(s1, idCol, payloadCol, bands, bandBits,
      maxHamming)
    val comp = TextDedup.connectedComponents(
      s1.select(col(idCol)), idCol, pairs)
    val kept = graft.ops.CacheScope.persist(
      s1.join(comp.filter(col(idCol) === col("rep_id"))
          .select(col(idCol)),
        Seq(idCol), "left_semi"))
    val funnel = Seq(("raw", 0, s0), ("exposure_gate", 1, s1),
        ("keep_best", 2, kept))
      .map { case (nm, ord, frame) =>
        frame.groupBy(col("format"))
          .agg(count(lit(1)).as("n_docs"))
          .select(lit(ord).as("stage_ord"), lit(nm).as("stage"),
            col("format"), col("n_docs"))
      }.reduce(_ unionByName _)
    (kept.select(col(idCol), col("format")), funnel)
  }

  /** CLIP-style cross-modal alignment gate (the LAION-400M/5B curation
    * recipe: keep an (image, caption) pair only when the cosine between
    * the two modality embeddings clears a threshold). Generic over any
    * two fixed-width embedding columns of EQUAL width `dim` (doubles);
    * in production the image side comes from the batched decoder
    * ([[extractFeaturesBatched]] / a real CLIP vision tower) and the
    * text side from the caption encoder — here the registered query
    * feeds the md5 stub features and a block-pooled text embedding, so
    * the gate's plumbing and determinism are oracle-checked end to end.
    *
    * Scale: ONE equi-join on the pair id (metadata-sized rows — the
    * payload bytes are NOT carried through the join), then a pure
    * codegen projection per pair; the gate prunes before any
    * downstream packing/tokenization touches payload bytes. No
    * all-pairs structure anywhere — alignment is per-pair, unlike the
    * ANN family's candidate generation.
    *
    * Determinism: dot and norms are explicit left-associated 4-term (or
    * `dim`-term) chains over exact float→double values, 6-dp rounded —
    * the `list_dot_product` discipline of the ANN oracles. Zero-norm
    * embeddings (all-zero vector) yield NULL score and kept=0, never an
    * engine-dependent 0/0. */
  def clipAlignScore(imgEmb: Column, txtEmb: Column, dim: Int): Column = {
    def dot(a: Column, b: Column): Column =
      (0 until dim).map(i =>
        element_at(a, i + 1) * element_at(b, i + 1)).reduce(_ + _)
    val n2a = dot(imgEmb, imgEmb)
    val n2b = dot(txtEmb, txtEmb)
    when(n2a > 0d && n2b > 0d,
      round(dot(imgEmb, txtEmb) / (sqrt(n2a) * sqrt(n2b)), 6))
  }

  /** Block-mean pooling of a float embedding down to `blocks` doubles
    * (block b = mean of entries [b·blockLen, (b+1)·blockLen)) — the
    * dimensionality adapter that lets a wide caption embedding meet a
    * narrow vision-stub embedding in [[clipAlignScore]]. Determinism:
    * float→double is exact and each block is an explicit LEFT-ASSOCIATED
    * addition chain (not a fold whose association an engine may choose),
    * then one division by the block length — both engines produce the
    * bit-identical double. Pure codegen projection, no shuffle. */
  def blockPoolEmbedding(emb: Column, blocks: Int, blockLen: Int): Column =
    array((0 until blocks).map { b =>
      (0 until blockLen)
        .map(i => element_at(emb, b * blockLen + i + 1).cast("double"))
        .reduce(_ + _) / blockLen.toDouble
    }: _*)

  /** The alignment gate over a pairs frame: emits the 6-dp `clip_score`
    * and `kept` (1 when score ≥ tau). Keep/drop stays a FLAG so the
    * caller can audit the rejected tail — the standard curation report
    * shape — and filter on `kept = 1` for the surviving corpus. */
  def clipAlignmentGate(pairs: DataFrame, imgEmbCol: String,
      txtEmbCol: String, dim: Int, tau: Double): DataFrame =
    pairs
      .withColumn("clip_score",
        clipAlignScore(col(imgEmbCol), col(txtEmbCol), dim))
      .withColumn("kept",
        (col("clip_score").isNotNull && col("clip_score") >= tau)
          .cast("int"))

  /** Batched partition-level extraction: the mapPartitions twin of an
    * Arrow-batch UDF — groups rows into `batchSize` chunks, runs
    * `decodeBatch` ([[fakeDecodeFeatures]]' md5 features) on each, emits
    * (id, features). A batched model call would replace `decodeBatch`;
    * everything around it stays. */
  def extractFeaturesBatched(
      df: DataFrame, idCol: String, payloadCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("features", ArrayType(DoubleType))))
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Array[Double])] =
      batch.map { case (id, bytes) => (id, MediaCodec.md5Features(bytes)) }
    val input = df.select(col(idCol).cast("long"), col(payloadCol))
    val rows = input.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { chunk =>
        decodeBatch(chunk.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))))
          .map { case (id, f) => Row(id, f.toSeq) }
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Video near-duplicate pairs by SHARED SAMPLED FRAMES — the
    * re-cut/re-upload detector of a video corpus prep: two payloads
    * whose frame samples ([[sampleChunks]] grid) produce ≥ `minShared`
    * identical frame digests are flagged with the shared count and the
    * overlap fraction (shared / min frame count). Catches
    * offset/trim re-cuts exact payload hashing misses: a video whose
    * head is trimmed by one stride still shares every remaining frame.
    *
    * Scale: candidates come ONLY from the frame-digest equi-join —
    * pair volume is Σ (docs per digest)², never all-pairs — and
    * digests sampled in more than `maxDocsPerFrame` payloads are
    * PRUNED first (a black/intro boilerplate frame shared by millions
    * of videos carries no dup signal but would alone dominate the
    * join; the sparse-retrieval stop-term rule applied to frames).
    * Frame digests are md5 (16-byte strings) — payload bytes never
    * cross the shuffle; per-doc frame sets are deduped before joining
    * so a still video contributes one row per distinct frame.
    *
    * Output: (`id_a`, `id_b`, `n_shared`, `frac`) with id_a < id_b. */
  def sharedFramePairs(df: DataFrame, idCol: String, payloadCol: String,
      chunkLen: Int, stride: Int, maxChunks: Int,
      minShared: Int = 2, maxDocsPerFrame: Int = 50): DataFrame = {
    val fr = graft.ops.CacheScope.persist(
      df.select(col(idCol).cast("long").as("id"),
          explode(sampleChunks(col(payloadCol), chunkLen, stride,
            maxChunks)).as("frame"))
        .filter(length(col("frame")) > 0)
        .select(col("id"), md5(col("frame")).as("fd"))
        .distinct())
    val keep = fr.groupBy(col("fd"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocsPerFrame && col("df") >= 2)
      .select(col("fd"))
    val pruned = graft.ops.CacheScope.persist(
      fr.join(keep, Seq("fd")))
    val perDoc = fr.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    pruned.select(col("fd"), col("id").as("id_a"))
      .join(pruned.select(col("fd"), col("id").as("id_b")), Seq("fd"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(perDoc.select(col("id").as("id_a"), col("nf").as("nf_a")),
        Seq("id_a"))
      .join(perDoc.select(col("id").as("id_b"), col("nf").as("nf_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("nf_a"), col("nf_b")), 6).as("frac"))
  }

  /** Audio-match by CONSTELLATION HASHING with offset voting — the
    * Shazam shape (Wang 2003): per track, a time series of spectral
    * peaks; landmarks = (peak, later peak, time gap) hashes; a query
    * matches a track when many landmark hashes agree on ONE constant
    * time offset (random hash collisions spread across offsets and
    * lose the vote).
    *
    * The "spectrogram" here derives each step's peak from the payload
    * bytes at a fixed stride (the honest-stub rule — substitute a real
    * STFT peak-picker in production; every downstream shape is real):
    * f(t) = byte value at position t·stride. Landmarks pair each step
    * with its next two steps (fan-out 2) via a LEAD window partitioned
    * BY TRACK (one track's steps, the sessionize shape).
    *
    * Scale: matching is an inverted-index EQUI-JOIN on the landmark
    * hash — never track×track; boilerplate hashes (corpus df >
    * maxTracksPerHash) are pruned first, the stop-term rule applied to
    * landmarks; the offset vote is a (query, track, delta)-grain hash
    * agg and the winning offset a bounded argmax struct per pair.
    *
    * Output: (query_id, track_id, delta, votes) for pairs whose best
    * offset carries ≥ minVotes — delta in steps, constant for a true
    * re-cut. */
  def constellationMatches(tracks: DataFrame, queries: DataFrame,
      idCol: String, payloadCol: String, stride: Int = 4,
      minVotes: Long = 10L, maxTracksPerHash: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def landmarks(df: DataFrame, side: String): DataFrame = {
      val steps = df.select(col(idCol).cast("long").as(s"${side}_id"),
          col(payloadCol).as("p"))
        .select(col(s"${side}_id"), col("p"),
          explode(sequence(lit(0),
            floor((length(col("p")) - 1) / stride).cast("int")))
            .as("t"))
        .select(col(s"${side}_id"), col("t"),
          ascii(expr(s"substring(p, t * $stride + 1, 1)")).as("f"))
      val w = Window.partitionBy(s"${side}_id").orderBy("t")
      steps.select(col(s"${side}_id"), col("t"),
          (col("f") * 100000 + lead(col("f"), 1).over(w) * 100
            + 1).as("h1"),
          (col("f") * 100000 + lead(col("f"), 2).over(w) * 100
            + 2).as("h2"))
        .select(col(s"${side}_id"), col("t"),
          explode(array(col("h1"), col("h2"))).as("h"))
        .filter(col("h").isNotNull)
    }
    val corpus = graft.ops.CacheScope.persist(landmarks(tracks, "track"))
    val ok = corpus.groupBy(col("h"))
      .agg(countDistinct(col("track_id")).as("df"))
      .filter(col("df") <= maxTracksPerHash)
      .select(col("h"))
    val votes = landmarks(queries, "query")
      .withColumnRenamed("t", "tq")
      .join(corpus.join(ok, Seq("h")).withColumnRenamed("t", "tc"),
        Seq("h"))
      .groupBy(col("query_id"), col("track_id"),
        (col("tq") - col("tc")).as("delta"))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy(col("query_id"), col("track_id"))
      .agg(max(struct(col("votes").as("v"), (-col("delta")).as("nd")))
        .as("b"))
      .select(col("query_id"), col("track_id"),
        (-col("b").getField("nd")).as("delta"),
        col("b").getField("v").as("votes"))
      .filter(col("votes") >= minVotes)
  }

  /** VOICE-ACTIVITY SEGMENTATION over decoded WAV payloads — the
    * speech-curation op an audio pipeline runs right after decode
    * (split each clip into utterance segments, drop silence):
    * `frameLen`-sample frame energies (mean |amplitude|, exact integer
    * sum / frame length, 6 dp), a `threshold` activity cut, and
    * contiguous active-frame runs grouped into segments via the
    * classic islands pattern (lag + running start-count). A clip with
    * no active frame contributes no rows; a trailing partial frame is
    * a frame of its actual length.
    *
    * Output: (idCol, seg_id [1-based per clip], start_frame,
    * end_frame, n_frames, n_samples, mean_energy).
    *
    * Scale: decode and the frame explode are per-row projections; the
    * islands window partitions by the clip id (a clip's frames are
    * thousands, never corpus-scale) — embarrassingly parallel across
    * clips. */
  def vadSegments(df: DataFrame, idCol: String, wavCol: String,
      frameLen: Int = 16, threshold: Double = 1000.0): DataFrame = {
    require(frameLen > 0, "frameLen must be positive")
    require(idCol != "__ss", "idCol may not be the reserved name __ss")
    import org.apache.spark.sql.expressions.Window
    // the decode is pinned to a CONCRETE column behind a cache barrier:
    // HOF lambdas get no subexpression elimination, so slicing the raw
    // samples() expression would re-run the full decode once per frame
    // (the measured wavDownsampleQ pathology, 357 s vs 21 s)
    val withSs = graft.ops.CacheScope.persist(
      df.select(col(idCol), WavCodec.samples(col(wavCol)).as("__ss")))
    val ss = col("__ss")
    val nf = ceil(size(ss) / lit(frameLen.toDouble)).cast("int")
    // n = 0 needs a branch, not a step: sequence(0, -1) infers step -1
    // and would manufacture phantom frames with flen = 0 (a 0/0 energy)
    // — the samples() lesson applied one level up. An empty clip
    // contributes no frames, hence no rows.
    val frames = withSs.select(col(idCol),
        posexplode(when(nf > 0, transform(sequence(lit(0), nf - 1),
            f => slice(ss, f * frameLen + 1, lit(frameLen))))
          .otherwise(typedLit(Seq.empty[Seq[Int]]))))
      .select(col(idCol), col("pos").as("f"), col("col").as("fr"))
      .withColumn("flen", size(col("fr")))
      .withColumn("energy", round(
        aggregate(col("fr"), lit(0L), (a, x) => a + abs(x))
          .cast("double") / col("flen"), 6))
      .withColumn("active", col("energy") >= threshold)
    val w = Window.partitionBy(idCol).orderBy("f")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frames
      .withColumn("is_start",
        col("active") && !lag(col("active"), 1, false).over(w))
      .withColumn("seg",
        sum(when(col("is_start"), 1).otherwise(0)).over(run))
      .filter(col("active"))
      .groupBy(col(idCol), col("seg").cast("int").as("seg_id"))
      .agg(min(col("f")).as("start_frame"),
        max(col("f")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("flen")).cast("long").as("n_samples"),
        round(graft.Det.dsumWide(col("energy")) / count(lit(1)), 6)
          .as("mean_energy"))
  }
}
