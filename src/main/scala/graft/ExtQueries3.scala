package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.{Featurize, Graph, Retrieval}

/** Third extension-query block (ExtQueries and ExtQueries2 are at their
  * navigable limits): link prediction, language-model retrieval, and
  * ML featurization. Same contract as [[ExtQueries]]: every entry
  * carries its own DuckDB oracle and a 100 TB scale rationale on the
  * implementing operator.
  */
object ExtQueries3 {

  /** Adamic–Adar / Jaccard link prediction
    * ([[graft.ext.Graph.linkPrediction]]) on the SAME ring+random graph
    * as `ext_graph_triangles` — consecutive ids share the next ring
    * neighbor, so every adjacent-id pair that is NOT itself a ring edge
    * is a guaranteed prediction candidate, and the md5 chords add
    * irregular overlaps. Degree cap 50 (inert on this ~degree-6 graph
    * but applied identically by the oracle — it is part of the
    * operator's semantics, not a Spark-side shortcut); pairs need ≥ 2
    * common neighbors. */
  val linkPredictionQ = Q(
    "ext_link_prediction",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val ring = (1 to 2).map { j =>
        docs.select(col("doc_id").as("src"),
          ((col("doc_id") + j) % n).as("dst"))
      }.reduce(_.unionByName(_))
      val rand = docs.select(col("doc_id").as("src"),
        (conv(substring(md5(concat(
          lit("tedge:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long") % n).as("dst"))
      Graph.linkPrediction(
        ring.unionByName(rand).filter(col("src") =!= col("dst")),
        maxDeg = 50, minCommon = 2)
    },
    Some {
      val cnt = "(SELECT cnt FROM nn)"
      s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        eraw AS (
          SELECT doc_id AS src, (doc_id + j) % $cnt AS dst
          FROM documents, (SELECT unnest([1, 2]) AS j)
          UNION ALL
          SELECT doc_id AS src,
            ('0x' || substring(md5('tedge:' || CAST(doc_id AS VARCHAR)),
              1, 8))::BIGINT % $cnt AS dst
          FROM documents),
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM eraw WHERE src != dst),
        deg AS MATERIALIZED (
          SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          GROUP BY 1),
        nbr AS MATERIALIZED (
          SELECT z, n, degree AS deg_z FROM (
            SELECT a AS z, b AS n FROM und
            UNION ALL SELECT b AS z, a AS n FROM und) x
          JOIN deg ON x.z = deg.node
          WHERE degree BETWEEN 2 AND 50),
        wed AS (
          SELECT n1.n AS u, n2.n AS v, n1.deg_z
          FROM nbr n1 JOIN nbr n2 ON n1.z = n2.z AND n1.n < n2.n),
        sc AS (
          SELECT u, v, count(*) AS common_neighbors,
            round(CAST(sum(CAST(
              round(CAST(1.0 AS DOUBLE) / ln(deg_z), 6)
              AS DECIMAL(38, 12))) AS DOUBLE), 6) AS aa_score
          FROM wed GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT s.u, s.v, s.common_neighbors, s.aa_score,
        round(CAST(s.common_neighbors AS DOUBLE)
          / (du.degree + dv.degree - s.common_neighbors), 6) AS jaccard
      FROM sc s
      LEFT JOIN und e ON s.u = e.a AND s.v = e.b
      JOIN deg du ON s.u = du.node
      JOIN deg dv ON s.v = dv.node
      WHERE e.a IS NULL"""
    })

  /** Query-likelihood Dirichlet ranking
    * ([[graft.ext.Retrieval.qlDirichletTopK]]) — the LM ranker next to
    * BM25, same three-term query so the two ranked lists are directly
    * comparable. */
  val qlDirichletQ = Q(
    "ext_ql_dirichlet_topk",
    (s, d) => Retrieval.qlDirichletTopK(Tables.documents(s, d), "text",
      "doc_id", Seq("spark", "window", "vector"), k = 10),
    Some(Retrieval.qlDirichletOracleSql(
      Seq("spark", "window", "vector"), 10)))

  /** Smoothed target encoding ([[graft.ext.Featurize.targetEncode]]):
    * brand → return-rate over lineitem⋈part (target = returnflag 'R').
    * The 100 TB plan: the partkey equi-join carries one string column,
    * then the brand aggregate shrinks map-side to the 25-brand grain —
    * no broadcast of either big side is needed or used. */
  val targetEncodeQ = Q(
    "ext_target_encode",
    (s, d) => Featurize.targetEncode(
      Tables.lineitem(s, d)
        .join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("target")),
      "brand", "target", m = 100.0),
    Some(Featurize.targetEncodeOracleSql(
      """SELECT p_brand AS category,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS target
        FROM lineitem JOIN part ON l_partkey = p_partkey""",
      m = 100.0)))

  /** Signed feature hashing ([[graft.ext.Featurize.featureHash]]) of
    * the document corpus into 64 buckets, sparse long-format output. */
  val featureHashQ = Q(
    "ext_feature_hash",
    (s, d) => Featurize.featureHash(
      Tables.documents(s, d), "text", "doc_id", dims = 64),
    Some(Featurize.featureHashOracleSql(dims = 64)))

  /** Kneser–Ney bigram perplexity
    * ([[graft.ext.TextStats.knBigramScore]], D = 0.75) — the standard
    * LM smoothing next to `ext_bigram_lm`'s add-one baseline. */
  val knBigramQ = Q(
    "ext_kn_bigram_ppl",
    (s, d) => graft.ext.TextStats.knBigramScore(
      Tables.documents(s, d), "text", "doc_id", discount = 0.75),
    Some {
      val dD = "CAST(0.75 AS DOUBLE)"
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH toks AS (
        SELECT doc_id,
          string_split_regex(trim(lower(text), $ws),
            '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents),
      bi AS MATERIALIZED (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 1),
            i -> array_to_string(t[i:i+1], ' '))) AS bg
        FROM toks WHERE len(t) >= 2),
      cb AS MATERIALIZED (SELECT bg, count(*) AS cb FROM bi GROUP BY 1),
      w1s AS (
        SELECT string_split(bg, ' ')[1] AS w1,
          CAST(sum(cb) AS BIGINT) AS cw, count(*) AS nfw
        FROM cb GROUP BY 1),
      w2s AS (
        SELECT string_split(bg, ' ')[2] AS w2, count(*) AS npre
        FROM cb GROUP BY 1),
      tt AS (SELECT count(*) AS t FROM cb),
      lp AS (
        SELECT bg, round(ln(
          greatest(cb - $dD, CAST(0.0 AS DOUBLE)) / cw
          + (($dD * nfw) / cw) * (npre / CAST(t AS DOUBLE))), 6) AS logp
        FROM cb
        JOIN w1s ON string_split(bg, ' ')[1] = w1s.w1
        JOIN w2s ON string_split(bg, ' ')[2] = w2s.w2, tt)
      SELECT doc_id,
        CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*)
          AS avg_kn_logprob,
        round(exp(-(CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE)
          / count(*))), 6) AS kn_ppl,
        count(*) AS n_bigrams
      FROM bi JOIN lp USING (bg)
      GROUP BY doc_id"""
    })

  /** Per-doc trigram novelty ([[graft.ext.TextDedup.ngramNovelty]],
    * n = 3): fraction of a doc's distinct trigrams first seen (min
    * doc_id) in that doc — the marginal-new-content curation signal. */
  val ngramNoveltyQ = Q(
    "ext_ngram_novelty",
    (s, d) => graft.ext.TextDedup.ngramNovelty(
      Tables.documents(s, d), "text", "doc_id", n = 3),
    Some {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH toks AS (
        SELECT doc_id,
          string_split_regex(trim(lower(text), $ws),
            '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents),
      grams AS MATERIALIZED (
        SELECT DISTINCT doc_id, gram FROM (
          SELECT doc_id,
            unnest(list_transform(generate_series(1, len(t) - 2),
              i -> array_to_string(t[i:i+2], ' '))) AS gram
          FROM toks WHERE len(t) >= 3)),
      fo AS (SELECT gram, min(doc_id) AS owner FROM grams GROUP BY 1),
      pd AS (SELECT doc_id, count(*) AS n_ngrams FROM grams GROUP BY 1),
      nv AS (
        SELECT doc_id, count(*) AS n_novel
        FROM grams JOIN fo USING (gram)
        WHERE owner = doc_id GROUP BY 1)
      SELECT d.doc_id,
        CAST(coalesce(pd.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
        CASE WHEN pd.n_ngrams > 0 THEN
          round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / pd.n_ngrams, 6)
        END AS novelty
      FROM documents d
      LEFT JOIN pd ON d.doc_id = pd.doc_id
      LEFT JOIN nv ON d.doc_id = nv.doc_id"""
    })

  /** Poisson-bootstrap CI of the mean document length
    * ([[graft.ext.Stats.bootstrapMeanCi]], B = 32): the one-pass
    * bootstrap — per-replica Poisson(1) weights drawn from md5, 64
    * exact-integer sums folded map-side, disc-percentile CI. */
  val bootstrapQ = Q(
    "ext_bootstrap_mean_ci",
    (s, d) => graft.ext.Stats.bootstrapMeanCi(
      Tables.documents(s, d), "doc_id", "n_chars"),
    Some(graft.ext.Stats.bootstrapOracleSql("doc_id", "n_chars")))

  /** Mutual information between document language and source
    * ([[graft.ext.Stats.mutualInformation]]) — "does source predict
    * language", the corpus-metadata association readout. */
  val mutualInfoQ = Q(
    "ext_mutual_information",
    (s, d) => graft.ext.Stats.mutualInformation(
      Tables.documents(s, d), "lang", "source"),
    Some(graft.ext.Stats.mutualInformationOracleSql(
      "SELECT lang AS a, source AS b FROM documents")))

  /** Shared-frame video near-dup pairs
    * ([[graft.ext.Multimodal.sharedFramePairs]]): each doc's payload
    * plus a head-trimmed RE-CUT (first stride dropped) — the re-cut's
    * frame grid realigns exactly one stride over, so every (original,
    * recut) pair shares all but the clipped frame while unrelated
    * payloads share none; non-ASCII is scrubbed first so char offsets
    * equal byte offsets on both engines (the ext_multimodal_frames
    * fixture rule). */
  val sharedFramesQ = Q(
    "ext_multimodal_frame_dedup",
    (s, d) => {
      import graft.ext.Multimodal
      val base = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "").as("t"))
      val variants = base
        .select((col("doc_id") * 2).as("id"), col("t"))
        .unionAll(base.select((col("doc_id") * 2 + 1).as("id"),
          substring(col("t"), 65, 1000000).as("t")))
      Multimodal.sharedFramePairs(
        variants.select(col("id"),
          Multimodal.asPayload(col("t")).as("payload")),
        "id", "payload", chunkLen = 32, stride = 64, maxChunks = 4,
        minShared = 2, maxDocsPerFrame = 50)
    },
    Some("""WITH a AS (
        SELECT doc_id,
          regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
        FROM documents),
      v AS (
        SELECT doc_id * 2 AS id, t FROM a
        UNION ALL
        SELECT doc_id * 2 + 1 AS id, substring(t, 65, 1000000) AS t
        FROM a),
      fr AS MATERIALIZED (
        SELECT DISTINCT id,
          md5(substring(t, CAST(i * 64 + 1 AS INT), 32)) AS fd
        FROM v CROSS JOIN range(0, 4) r(i)
        WHERE length(substring(t, CAST(i * 64 + 1 AS INT), 32)) > 0),
      keep AS (
        SELECT fd FROM (
          SELECT fd, count(*) AS df FROM fr GROUP BY 1)
        WHERE df <= 50 AND df >= 2),
      pr AS MATERIALIZED (
        SELECT fr.id, fr.fd FROM fr JOIN keep USING (fd)),
      pd AS (SELECT id, count(*) AS nf FROM fr GROUP BY 1),
      pairs AS (
        SELECT p1.id AS id_a, p2.id AS id_b, count(*) AS n_shared
        FROM pr p1 JOIN pr p2 ON p1.fd = p2.fd AND p1.id < p2.id
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT id_a, id_b, n_shared,
        round(CAST(n_shared AS DOUBLE) / least(pa.nf, pb.nf), 6) AS frac
      FROM pairs
      JOIN pd pa ON id_a = pa.id
      JOIN pd pb ON id_b = pb.id"""))

  /** Two-sample KS drift test ([[graft.ext.Stats.ksTest]]) between the
    * doc-length distributions of sources src0 and src1 — the exact
    * companion to the binned `ext_signal_drift_psi`. Rides the
    * packOffsets two-phase prefix sum (windowWhitelist'd). */
  val ksTestQ = Q(
    "ext_ks_test",
    (s, d) => graft.ext.Stats.ksTest(
      Tables.documents(s, d), "n_chars", "source", "src0", "src1"),
    Some(graft.ext.Stats.ksTestOracleSql(
      "SELECT n_chars AS v, source AS grp FROM documents",
      "src0", "src1")))

  /** Two-sample WASSERSTEIN-1 drift ([[graft.ext.Stats.wasserstein1]]
    * carries the distributed-lead design): the integral companion to
    * the same src0-vs-src1 length comparison `ext_ks_test` max-gaps —
    * W1 prices how much mass moved how far, the quantity a drift
    * alarm should threshold on. Rides the shared mergedCdf prefix-sum
    * (windowWhitelist'd). */
  val wassersteinQ = Q(
    "ext_wasserstein_drift",
    (s, d) => graft.ext.Stats.wasserstein1(
      Tables.documents(s, d), "n_chars", "source", "src0", "src1"),
    Some(graft.ext.Stats.wasserstein1OracleSql(
      "SELECT n_chars AS v, source AS grp FROM documents",
      "src0", "src1")))

  /** JSD between two sources' binned doc-length histograms (bin width
    * 32 over the ~47-560 char range → ~16 populated bins) — the
    * bounded, empty-bin-safe drift readout next to the PSI and the
    * exact KS ([[graft.ext.Stats.jsDivergence]] carries the scale and
    * determinism rationale). */
  val jsDivergenceQ = Q(
    "ext_js_divergence",
    (s, d) => graft.ext.Stats.jsDivergence(
      Tables.documents(s, d), "n_chars", "source", "src0", "src1",
      binWidth = 32L),
    Some(graft.ext.Stats.jsDivergenceOracleSql(
      "SELECT n_chars AS v, source AS grp FROM documents",
      "src0", "src1", binWidth = 32L)))

  /** Truncation-duplicate pairs ([[graft.ext.TextDedup.truncationPairs]]
    * carries the scale design: prefix-hash candidates, stop-prefix
    * bucket prune, by-id text fetch for verify only). Testdata has no
    * natural truncations, so the query constructs the crawl-artifact
    * analogue in-flight: every 5th doc gains a twin cut to
    * max(32, 2/3) of its length — each twin must pair with exactly its
    * original (the spec pins that, plus a non-prefix rejection). */
  val truncationQ = Q(
    "ext_dedup_prefix_trunc",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val twins = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          expr("substring(text, 1, greatest(32, (n_chars * 2) div 3))")
            .as("text"))
      val docs = base.select(col("doc_id"), col("text"))
        .unionByName(twins)
      graft.ext.TextDedup.truncationPairs(docs, "text", "doc_id")
    },
    Some("""WITH twins AS (
        SELECT doc_id + 10000000 AS doc_id,
          substring(text, 1, greatest(32, (n_chars * 2) // 3)) AS text
        FROM documents WHERE doc_id % 5 = 0),
      docs AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM twins),
      keys AS MATERIALIZED (
        SELECT doc_id AS id, md5(substring(text, 1, 32)) AS pk,
          length(text) AS len
        FROM docs WHERE length(text) >= 32),
      ok AS (SELECT pk FROM keys GROUP BY 1 HAVING count(*) <= 100),
      pruned AS MATERIALIZED (SELECT k.* FROM keys k JOIN ok USING (pk)),
      cand AS (
        SELECT a.id AS id_short, b.id AS id_long,
          a.len AS len_short, b.len AS len_long
        FROM pruned a JOIN pruned b ON a.pk = b.pk AND a.len < b.len)
      SELECT id_short, id_long, len_short, len_long,
        round(CAST(len_short AS DOUBLE) / len_long, 6) AS trunc_frac
      FROM cand
      JOIN docs ts ON ts.doc_id = id_short
      JOIN docs tl ON tl.doc_id = id_long
      WHERE substring(tl.text, 1, CAST(len_short AS INT)) = ts.text"""))

  /** Oracle-replayable distributed Lloyd k-means, k=8 × 3 rounds over
    * the embeddings table ([[graft.ext.Lloyd]] carries the full scale
    * and determinism rationale: literal-broadcast centroids, codegen
    * argmin projection, exact-decimal means, FLOAT narrowing). */
  val kmeansQ = Q(
    "ext_kmeans_lloyd",
    (s, d) => graft.ext.Lloyd.fit(
      Tables.embeddings(s, d), k = 8, rounds = 3),
    Some(graft.ext.Lloyd.oracleSql(k = 8, rounds = 3)))

  /** Cluster-quality readout ([[graft.ext.Lloyd.silhouette]] carries
    * the centroid-surrogate design and the one-projection scale
    * shape): per-cluster simplified silhouette of the SAME 3-update
    * model the streaming assigner serves — the table that says
    * whether k = 8 earned its keep before anything downstream trusts
    * the cluster ids. */
  val kmeansSilhouetteQ = Q(
    "ext_kmeans_silhouette",
    (s, d) => graft.ext.Lloyd.silhouette(
      Tables.embeddings(s, d),
      graft.ext.Lloyd.fitCentroids(
        Tables.embeddings(s, d), k = 8, updates = 3)),
    Some(graft.ext.Lloyd.silhouetteOracleSql(k = 8, updates = 3)))

  /** Streaming k-means inference (the model-serving twin of
    * `ext_kmeans_lloyd`): static fit at startup, stateless nearest-
    * centroid assignment per micro-batch
    * ([[graft.streaming.StreamPipeline.kmeansAssignAvailableNow]]). */
  val kmeansStreamQ = Q(
    "q_stream_kmeans_assign",
    (s, d) => graft.streaming.StreamPipeline.kmeansAssignAvailableNow(s, d),
    Some(graft.ext.Lloyd.assignOracleSql(
      k = 8, updates = 3, wherePred = "e.vec_id % 5 = 0")))

  /** RAKE multi-word keyphrases, top-3 per doc over the corpus's two
    * stop-words ([[graft.ext.Retrieval.rakeKeyphrases]] carries the
    * per-document scale design and determinism rules). */
  val rakeQ = Q(
    "ext_keyphrase_rake",
    (s, d) => graft.ext.Retrieval.rakeKeyphrases(
      Tables.documents(s, d), "text", "doc_id",
      stopwords = Seq("the", "a"), k = 3),
    Some(graft.ext.Retrieval.rakeOracleSql(
      stopwords = Seq("the", "a"), k = 3)))

  /** WoE/IV of order priority against the has-a-return target
    * ([[graft.ext.Featurize.woeIv]] carries the scale/determinism
    * rationale) — ranks the categorical's predictive power where
    * `ext_target_encode` only produces the feature. */
  val woeIvQ = Q(
    "ext_woe_iv",
    (s, d) => {
      val ret = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")).distinct()
      val base = Tables.orders(s, d)
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderpriority").as("category"),
          when(col("l_orderkey").isNotNull, 1L).otherwise(0L)
            .as("target"))
      graft.ext.Featurize.woeIv(base, "category", "target")
    },
    Some(graft.ext.Featurize.woeIvOracleSql(
      """SELECT o_orderpriority AS category,
        CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS target
      FROM orders LEFT JOIN (
        SELECT DISTINCT l_orderkey FROM lineitem
        WHERE l_returnflag = 'R') r
      ON o_orderkey = r.l_orderkey""")))

  /** Equi-depth decile binning of order totals
    * ([[graft.ext.Featurize.quantileBins]]). */
  val quantileBinsQ = Q(
    "ext_feature_quantile_bins",
    (s, d) => graft.ext.Featurize.quantileBins(
      Tables.orders(s, d), "o_totalprice", nBins = 10),
    Some(graft.ext.Featurize.quantileBinsOracleSql(
      "SELECT o_totalprice AS v FROM orders", nBins = 10)))

  /** Audio-match by constellation hashing + offset voting
    * ([[graft.ext.Multimodal.constellationMatches]] carries the scale
    * design: landmark inverted-index join, stop-hash prune,
    * pair×offset vote agg). Testdata has no re-cut audio, so the query
    * constructs it in-flight: every 7th doc's payload trimmed by
    * 2 steps (8 bytes) — each query must land on its source track at
    * the constant offset −2 (the spec pins that and the
    * spread-collision rejection). */
  val audioMatchQ = Q(
    "ext_multimodal_audio_match",
    (s, d) => {
      val tracks = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val queries = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          expr("substring(text, 9)").as("text"))
      graft.ext.Multimodal.constellationMatches(
        tracks, queries, "doc_id", "text")
    },
    Some("""WITH q AS (
        SELECT doc_id + 20000000 AS doc_id, substring(text, 9) AS text
        FROM documents WHERE doc_id % 7 = 0),
      tsteps AS (
        SELECT doc_id AS track_id, t,
          ord(substring(text, CAST(t * 4 + 1 AS INT), 1)) AS f
        FROM (SELECT doc_id, text,
          unnest(generate_series(0,
            CAST(floor((length(text) - 1) / 4) AS BIGINT))) AS t
          FROM documents)),
      qsteps AS (
        SELECT doc_id AS query_id, t,
          ord(substring(text, CAST(t * 4 + 1 AS INT), 1)) AS f
        FROM (SELECT doc_id, text,
          unnest(generate_series(0,
            CAST(floor((length(text) - 1) / 4) AS BIGINT))) AS t
          FROM q)),
      tl0 AS (
        SELECT track_id, t,
          f * 100000 + lead(f, 1) OVER w * 100 + 1 AS h1,
          f * 100000 + lead(f, 2) OVER w * 100 + 2 AS h2
        FROM tsteps WINDOW w AS (PARTITION BY track_id ORDER BY t)),
      tl AS MATERIALIZED (
        SELECT track_id, t, h FROM (
          SELECT track_id, t, unnest([h1, h2]) AS h FROM tl0)
        WHERE h IS NOT NULL),
      ql0 AS (
        SELECT query_id, t,
          f * 100000 + lead(f, 1) OVER w * 100 + 1 AS h1,
          f * 100000 + lead(f, 2) OVER w * 100 + 2 AS h2
        FROM qsteps WINDOW w AS (PARTITION BY query_id ORDER BY t)),
      ql AS (
        SELECT query_id, t, h FROM (
          SELECT query_id, t, unnest([h1, h2]) AS h FROM ql0)
        WHERE h IS NOT NULL),
      ok AS (SELECT h FROM tl GROUP BY 1
        HAVING count(DISTINCT track_id) <= 200),
      votes AS (
        SELECT query_id, track_id, ql.t - tl.t AS delta,
          CAST(count(*) AS BIGINT) AS votes
        FROM ql JOIN (SELECT tl.* FROM tl JOIN ok USING (h)) tl
          USING (h)
        GROUP BY 1, 2, 3),
      best AS (
        SELECT query_id, track_id, delta, votes,
          row_number() OVER (PARTITION BY query_id, track_id
            ORDER BY votes DESC, delta) AS rn
        FROM votes)
      SELECT query_id, track_id, delta, votes
      FROM best WHERE rn = 1 AND votes >= 10"""))

  /** Mann–Whitney U (rank-sum) between two sources' doc-length
    * distributions — the location-shift companion to the exact-shape
    * KS ([[graft.ext.Stats.mannWhitney]] carries the doubled-midrank
    * exactness and two-phase prefix-sum scale design). */
  val mannWhitneyQ = Q(
    "ext_mann_whitney",
    (s, d) => graft.ext.Stats.mannWhitney(
      Tables.documents(s, d), "n_chars", "source", "src0", "src1"),
    Some(graft.ext.Stats.mannWhitneyOracleSql(
      "SELECT n_chars AS v, source AS grp FROM documents",
      "src0", "src1")))

  /** Tokenizer/vocab COVERAGE — the OOV-rate eval every tokenizer
    * rollout runs before shipping: a vocabulary induced on the
    * "training" sources (src0–src9, top-200 tokens by frequency via
    * the bounded-heap `top_k_str` — never a vocabulary sort) scored on
    * EVERY source: token-level and type-level OOV rates. A source the
    * vocab serves badly shows a high token_oov_rate long before
    * downstream perplexity does.
    *
    * Scale: one (source, term) hash agg off the scan feeds both the
    * vocab heap and the coverage join; the vocab is a ≤200-row
    * broadcast; per-source rollup is a hash agg onto source grain. */
  val tokenizerCoverageQ = Q(
    "ext_tokenizer_coverage",
    (s, d) => {
      import graft.ext.TextStats
      val tf = graft.ops.CacheScope.persist(
        Tables.documents(s, d)
          .select(col("source"),
            explode(TextStats.tokens(lower(col("text")))).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("tf")))
      val vocab = tf
        .filter(col("source").isin((0 to 9).map(i => s"src$i"): _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("f"))
        .groupBy()
        .agg(graft.functions.TopKAgg.top_k_str(
          col("f").cast("double"), col("term"), 200).as("tk"))
        .select(explode(col("tk")).as("t"))
        .select(col("t.key").as("term"))
      tf.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
          Seq("term"), "left")
        .groupBy(col("source"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L))
            .as("oov_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("oov_types"))
        .select(col("source"), col("n_tokens"), col("oov_tokens"),
          round(col("oov_tokens").cast("double") / col("n_tokens"), 6)
            .as("token_oov_rate"),
          col("n_types"), col("oov_types"),
          round(col("oov_types").cast("double") / col("n_types"), 6)
            .as("type_oov_rate"))
    },
    Some {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val srcs = (0 to 9).map(i => s"'src$i'").mkString(", ")
      s"""WITH tf AS MATERIALIZED (
        SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM (
          SELECT source,
            unnest(string_split_regex(trim(lower(text), $ws),
              '[ \\t\\n\\x0B\\f\\r]+')) AS term
          FROM documents)
        GROUP BY 1, 2),
      vf AS (
        SELECT term, sum(tf) AS f FROM tf
        WHERE source IN ($srcs) GROUP BY 1),
      vocab AS (
        SELECT term FROM vf
        ORDER BY CAST(f AS DOUBLE) DESC, term LIMIT 200)
      SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN v.term IS NULL THEN tf ELSE 0 END) AS BIGINT)
          AS oov_tokens,
        round(CAST(sum(CASE WHEN v.term IS NULL THEN tf ELSE 0 END)
          AS DOUBLE) / sum(tf), 6) AS token_oov_rate,
        CAST(count(*) AS BIGINT) AS n_types,
        CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS oov_types,
        round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS type_oov_rate
      FROM tf LEFT JOIN vocab v USING (term)
      GROUP BY 1"""
    })

  /** WAV encode→decode ROUNDTRIP gate ([[graft.ext.WavCodec]]) — the
    * real-decoder retirement of the multimodal stub contract for one
    * modality: per document a deterministic 16-bit PCM waveform
    * (length 64 + doc_id%32, samples (doc_id·31 + i·17)%65536 −
    * 32768, rate 8000 + (doc_id%3)·4000) is ENCODED into actual
    * RIFF/WAVE bytes and every output column below is computed by
    * DECODING THOSE BYTES — header fields, sample stats, and real
    * waveform block-energy features. The oracle computes the same
    * quantities straight from the generator formula, so a hash match
    * proves the binary roundtrip is lossless and the parser honors
    * the public byte layout (magic offsets, little-endian scalars,
    * two's-complement samples).
    *
    * Scale: one projection per row — no shuffle, no UDF, no driver;
    * payload bytes never leave the executor. */
  val wavRoundtripQ = Q(
    "ext_wav_roundtrip",
    (s, d) => {
      import graft.ext.WavCodec
      val n = lit(64) + pmod(col("doc_id"), lit(32))
      val rate = (lit(8000) + pmod(col("doc_id"), lit(3)) * 4000)
        .cast("int")
      val gen = transform(sequence(lit(0), n - 1), i =>
        (pmod(col("doc_id") * 31 + i * 17, lit(65536)) - 32768)
          .cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        WavCodec.encodeWav(gen, rate).as("wav"))
      // everything below reads the BYTES, never the generator
      val ss = WavCodec.samples(col("wav"))
      val fs = WavCodec.waveFeatures(col("wav"))
      enc.select(col("doc_id"),
        WavCodec.sampleRate(col("wav")).as("sample_rate"),
        WavCodec.numSamples(col("wav")).as("n_samples"),
        aggregate(ss, lit(0L), (acc, x) => acc + abs(x)).as("sum_abs"),
        array_min(ss).as("s_min"), array_max(ss).as("s_max"),
        element_at(ss, 1).as("s_first"), element_at(ss, -1).as("s_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          ss[(n*$b//4 + 1):(n*${b + 1}//4)], s -> abs(s))) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 32768.0), 6)"""
      s"""WITH gen AS (
        SELECT doc_id,
          CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
          64 + doc_id % 32 AS n,
          list_transform(range(0, 64 + doc_id % 32),
            i -> CAST((doc_id*31 + i*17) % 65536 - 32768 AS INTEGER))
            AS ss
        FROM documents)
      SELECT doc_id, sample_rate, CAST(n AS BIGINT) AS n_samples,
        CAST(list_sum(list_transform(ss, s -> abs(s))) AS BIGINT)
          AS sum_abs,
        list_min(ss) AS s_min, list_max(ss) AS s_max,
        ss[1] AS s_first, ss[n] AS s_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** VOICE-ACTIVITY SEGMENTATION over REAL decoded WAV bytes
    * ([[graft.ext.WavCodec.vadSegments]] carries the frame-energy /
    * islands design and the per-clip-parallel scale rationale) — the
    * speech-curation op an audio training pipeline runs right after
    * decode. The waveform generator writes designed quiet/loud frame
    * runs ((doc_id + frame) mod 5 < 2 → ±128 noise floor, else full
    * ±32k range); the decode side reads ONLY the bytes — the
    * `ext_wav_roundtrip` contract extended from scalar stats to a real
    * downstream operator. Determinism: frame energies are exact
    * integer sums / frame length rounded 6 dp; the segment mean rides
    * the DECIMAL(38,12) exact sum. */
  val wavVadQ = Q(
    "ext_wav_vad_segments",
    (s, d) => {
      import graft.ext.WavCodec
      val n = lit(64) + pmod(col("doc_id"), lit(32))
      val gen = transform(sequence(lit(0), n - 1), i => {
        val base = pmod(col("doc_id") * 31 + i * 17, lit(65536))
        val f = floor(i / lit(16)).cast("int")
        when(pmod(col("doc_id") + f, lit(5)) >= 2, base - 32768)
          .otherwise(pmod(base, lit(256)) - 128).cast("int")
      })
      val enc = Tables.documents(s, d).select(col("doc_id"),
        WavCodec.encodeWav(gen, lit(8000)).as("wav"))
      // everything below reads the BYTES, never the generator
      WavCodec.vadSegments(enc, "doc_id", "wav",
        frameLen = 16, threshold = 1000.0)
    },
    Some(s"""WITH g AS (
        SELECT doc_id, 64 + doc_id % 32 AS n FROM documents),
      idx AS (
        SELECT doc_id, n, unnest(range(0, n)) AS i FROM g),
      smp AS (
        SELECT doc_id, CAST(i // 16 AS INT) AS f,
          CASE WHEN (doc_id + i // 16) % 5 >= 2
            THEN (doc_id * 31 + i * 17) % 65536 - 32768
            ELSE ((doc_id * 31 + i * 17) % 65536) % 256 - 128
          END AS s
        FROM idx),
      fr AS (
        SELECT doc_id, f, count(*) AS flen,
          sum(abs(s)) AS sab
        FROM smp GROUP BY 1, 2),
      en AS (
        SELECT doc_id, f, flen,
          round(CAST(sab AS DOUBLE) / flen, 6) AS energy,
          round(CAST(sab AS DOUBLE) / flen, 6) >= 1000.0 AS active
        FROM fr),
      st AS (
        SELECT doc_id, f, flen, energy, active,
          CASE WHEN active AND NOT coalesce(
            lag(active) OVER (PARTITION BY doc_id ORDER BY f), FALSE)
          THEN 1 ELSE 0 END AS is_start
        FROM en),
      seg AS (
        SELECT doc_id, f, flen, energy, active,
          sum(is_start) OVER (PARTITION BY doc_id ORDER BY f
            ROWS UNBOUNDED PRECEDING) AS seg
        FROM st)
      SELECT doc_id, CAST(seg AS INT) AS seg_id,
        min(f) AS start_frame, max(f) AS end_frame,
        count(*) AS n_frames, CAST(sum(flen) AS BIGINT) AS n_samples,
        round(${Det.dsumWideSql("energy")} / count(*), 6) AS mean_energy
      FROM seg WHERE active GROUP BY 1, 2"""))

  /** Streaming NEAR-dedup against the archive-as-index — the streaming
    * twin of `ext_dedup_incremental_lsh`
    * ([[graft.streaming.StreamPipeline.dedupLshAvailableNow]] carries
    * the stream-static index-probe design and the watermark-bounded
    * candidate-state rationale). Same incoming feed, same output
    * grain, so the oracle IS the batch query's oracle — streamed
    * near-dup pairs ≡ the batch incremental replay hash-exactly. */
  val lshDedupStreamQ = Q(
    "q_stream_dedup_lsh",
    (s, d) => graft.streaming.StreamPipeline.dedupLshAvailableNow(s, d),
    ExtQueries.dedupIncrementalLsh.oracle)

  /** BUCKET-PRUNED streaming LSH dedup
    * ([[graft.streaming.StreamPipeline.lshDedupPrunedStart]] carries
    * the measured linear-scan indictment of the plain stream-static
    * join and the partition-pruned per-batch design) — output-identical
    * to `q_stream_dedup_lsh` (pruning is lossless), so the oracle is
    * shared verbatim; `SCALEPROBE_r11.json` and `SCALEPROBE_r12.json`
    * hold the archive-scaling evidence. */
  val lshDedupPrunedQ = Q(
    "q_stream_dedup_lsh_pruned",
    (s, d) => graft.streaming.StreamPipeline
      .dedupLshPrunedAvailableNow(s, d),
    ExtQueries.dedupIncrementalLsh.oracle)

  /** Streaming per-hour TOP-K events by value
    * ([[graft.streaming.StreamPipeline.eventsTopValueAvailableNow]]
    * carries the k-bounded-heap state design). Oracle: batch
    * row_number window with the same (value desc, event_id asc) total
    * order and the final-watermark cutoff (append emits a window only
    * once its END clears max ts − 2 h). */
  val topValueStreamQ = Q(
    "q_stream_top_value_events",
    (s, d) => graft.streaming.StreamPipeline
      .eventsTopValueAvailableNow(s, d, k = 5),
    Some("""WITH wm AS (
        SELECT epoch_us(max(ts)) AS max_us FROM events),
      ranked AS (
        SELECT date_trunc('hour', ts) AS hr,
          CAST(row_number() OVER (PARTITION BY date_trunc('hour', ts)
            ORDER BY value DESC, CAST(event_id AS VARCHAR) ASC)
            AS INTEGER) AS rank,
          CAST(event_id AS VARCHAR) AS event_id,
          CAST(value AS DOUBLE) AS value
        FROM events)
      SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour, rank, event_id,
        value
      FROM ranked, wm
      WHERE rank <= 5
        AND epoch_us(hr + INTERVAL 1 HOUR) <= max_us - 7200000000"""))

  /** Key-skew profile of lineitem's part key
    * ([[graft.ops.Profiling.keySkew]] carries the shuffle-planning
    * rationale and the bounded-heap shape) — the top-10 hottest
    * l_partkey values with share and hot factor. */
  val keySkewQ = Q(
    "ext_key_skew",
    (s, d) => graft.ops.Profiling.keySkew(
      Tables.lineitem(s, d), "l_partkey", topN = 10),
    Some(graft.ops.Profiling.keySkewOracleSql(
      "SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem",
      topN = 10)))

  /** Exact distributed ECDF of order totals
    * ([[graft.ext.Stats.ecdf]] carries the two-phase prefix-sum shape)
    * — the rank-normalization lookup table (value → cume_dist) feature
    * pipelines join by value. */
  val ecdfQ = Q(
    "ext_feature_ecdf",
    (s, d) => graft.ext.Stats.ecdf(
      Tables.orders(s, d), "o_totalprice"),
    Some(graft.ext.Stats.ecdfOracleSql(
      "SELECT o_totalprice AS v FROM orders", "o_totalprice")))

  /** PMI collocations over the corpus
    * ([[graft.ext.TextStats.pmiCollocations]] carries the formula,
    * scale, and determinism rationale): top-25 bigrams by pointwise
    * mutual information at support ≥ 5. */
  val pmiQ = Q(
    "ext_pmi_collocations",
    (s, d) => graft.ext.TextStats.pmiCollocations(
      Tables.documents(s, d), "text", k = 25, minSupport = 5),
    Some {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH toks AS (
        SELECT string_split_regex(trim(lower(text), $ws),
          '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents),
      uni AS MATERIALIZED (SELECT unnest(t) AS w FROM toks),
      uc AS MATERIALIZED (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
      ntok AS (SELECT count(*) AS n_tok FROM uni),
      bi AS MATERIALIZED (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
          i -> array_to_string(t[i:i+1], ' '))) AS bg
        FROM toks WHERE len(t) >= 2),
      nbi AS (SELECT count(*) AS n_bi FROM bi),
      bc AS MATERIALIZED (
        SELECT bg, count(*) AS cab FROM bi GROUP BY 1
        HAVING count(*) >= 5),
      scored AS (
        SELECT bg, cab,
          round(ln((CAST(cab AS DOUBLE) * n_tok * n_tok)
            / (CAST(n_bi AS DOUBLE) * ca.cu * cb.cu)), 6) AS pmi
        FROM bc
        JOIN uc ca ON string_split(bg, ' ')[1] = ca.w
        JOIN uc cb ON string_split(bg, ' ')[2] = cb.w, ntok, nbi),
      r AS (
        SELECT bg, cab, pmi, CAST(row_number() OVER (
          ORDER BY pmi DESC, bg ASC) AS INTEGER) AS rank
        FROM scored)
      SELECT rank, bg AS bigram, CAST(cab AS BIGINT) AS support, pmi
      FROM r WHERE rank <= 25"""
    })

  /** Per-source semantic outliers
    * ([[graft.ext.Similarity.sourceOutliers]] carries the
    * centroid/broadcast/heap scale design): the 5 lowest-cosine docs
    * per source against their own source centroid — the off-topic
    * curation readout. */
  val sourceOutliersQ = Q(
    "ext_source_outliers",
    (s, d) => graft.ext.Similarity.sourceOutliers(
      Tables.embeddings(s, d), Tables.documents(s, d), k = 5),
    Some("""WITH v AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      j AS (
        SELECT source, vec_id, emb
        FROM v JOIN documents ON vec_id = doc_id),
      cent AS (
        SELECT source, i,
          round(CAST(sum(CAST(emb[CAST(i AS INT)] AS DECIMAL(38,9)))
            AS DOUBLE) / count(*), 6) AS cv
        FROM j CROSS JOIN range(1, 65) t(i)
        WHERE i <= len(emb)
        GROUP BY source, i),
      cvec AS (
        SELECT source, list(cv ORDER BY i) AS c
        FROM cent GROUP BY source),
      scored AS (
        SELECT j.source, j.vec_id,
          round(list_dot_product(j.emb, c.c)
            / (sqrt(list_dot_product(j.emb, j.emb))
              * sqrt(list_dot_product(c.c, c.c))), 6) AS cos
        FROM j JOIN cvec c USING (source)),
      r AS (
        SELECT source, vec_id, cos,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY cos ASC, CAST(vec_id AS VARCHAR) ASC)
            AS INTEGER) AS rank
        FROM scored)
      SELECT source, rank, vec_id, cos FROM r WHERE rank <= 5"""))

  /** Streaming WAV decode
    * ([[graft.streaming.StreamPipeline.wavDecodeAvailableNow]]):
    * payloads encode and DECODE per micro-batch, stateless — the
    * media-ingest feature-extraction shape. Oracle = the generator
    * formula (no watermark cutoff: a stateless stream drains exactly
    * its input), so the hash gate proves the in-stream binary
    * roundtrip. */
  val wavStreamQ = Q(
    "q_stream_wav_decode",
    (s, d) => graft.streaming.StreamPipeline.wavDecodeAvailableNow(s, d),
    Some("""SELECT doc_id,
        CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        CAST(64 + doc_id % 32 AS BIGINT) AS n_samples,
        CAST(list_sum(list_transform(range(0, 64 + doc_id % 32),
          i -> abs((doc_id*31 + i*17) % 65536 - 32768))) AS BIGINT)
          AS sum_abs
      FROM documents"""))

  /** Data-quality CONSTRAINT SUITE over the order book
    * ([[graft.ops.DqConstraints]] carries the one-scan-per-rulebook /
    * anti-join-per-FK scale design): range, domain, cross-column, and
    * referential rules in one violations report. The ship-before-order
    * rule genuinely fires on this data (the synthetic dates draw
    * independently — the same fact `q_return_rate_by_lag` excludes);
    * the FK and domain rules prove zeros. */
  val dqConstraintsQ = Q(
    "q_dq_constraints",
    (s, d) => {
      import graft.ops.DqConstraints
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val liRules = DqConstraints.checkRules(li, Seq(
        "li_quantity_out_of_range" ->
          (col("l_quantity") < 1 || col("l_quantity") > 50),
        "li_nonpositive_price" -> (col("l_extendedprice") <= 0),
        "li_discount_out_of_range" ->
          (col("l_discount") < 0 || col("l_discount") > 0.5),
        "li_bad_returnflag" ->
          !col("l_returnflag").isin("R", "A", "N")))
      val shipRule = DqConstraints.checkRules(
        li.join(ord, col("l_orderkey") === col("o_orderkey")),
        Seq("li_ship_before_order" ->
          (col("l_shipdate").cast("date") <
            col("o_orderdate").cast("date"))))
      val ordRules = DqConstraints.checkRules(ord, Seq(
        "o_nonpositive_total" -> (col("o_totalprice") <= 0),
        "o_bad_status" -> !col("o_orderstatus").isin("F", "O", "P")))
      val fk1 = DqConstraints.fkOrphans(li, "l_orderkey",
        ord, "o_orderkey", "li_orphan_orderkey")
      val fk2 = DqConstraints.fkOrphans(li, "l_partkey",
        Tables.part(s, d), "p_partkey", "li_orphan_partkey")
      liRules.unionByName(shipRule).unionByName(ordRules)
        .unionByName(fk1).unionByName(fk2)
    },
    Some("""WITH li AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
            THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
          CAST(sum(CASE WHEN l_extendedprice <= 0
            THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
          CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5
            THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
          CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A','N')
            THEN 1 ELSE 0 END) AS BIGINT) AS v_rf
        FROM lineitem),
      shp AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN CAST(l_shipdate AS DATE)
            < CAST(o_orderdate AS DATE) THEN 1 ELSE 0 END) AS BIGINT)
            AS v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ord AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS v_tot,
          CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
            THEN 1 ELSE 0 END) AS BIGINT) AS v_st
        FROM orders),
      lin AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
      fk1 AS (
        -- NOT EXISTS + explicit IS NULL, not NOT IN: the engine's
        -- left_anti counts a NULL child key as an orphan, while NOT IN
        -- yields UNKNOWN for it and silently drops the row
        SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
        WHERE l.l_orderkey IS NULL OR NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      fk2 AS (
        SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
        WHERE l.l_partkey IS NULL OR NOT EXISTS
          (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      SELECT 'li_quantity_out_of_range' AS rule, n AS n_checked,
        v_qty AS n_violations,
        round(v_qty / CAST(n AS DOUBLE), 9) AS violation_rate FROM li
      UNION ALL SELECT 'li_nonpositive_price', n, v_price,
        round(v_price / CAST(n AS DOUBLE), 9) FROM li
      UNION ALL SELECT 'li_discount_out_of_range', n, v_disc,
        round(v_disc / CAST(n AS DOUBLE), 9) FROM li
      UNION ALL SELECT 'li_bad_returnflag', n, v_rf,
        round(v_rf / CAST(n AS DOUBLE), 9) FROM li
      UNION ALL SELECT 'li_ship_before_order', n, v,
        round(v / CAST(n AS DOUBLE), 9) FROM shp
      UNION ALL SELECT 'o_nonpositive_total', n, v_tot,
        round(v_tot / CAST(n AS DOUBLE), 9) FROM ord
      UNION ALL SELECT 'o_bad_status', n, v_st,
        round(v_st / CAST(n AS DOUBLE), 9) FROM ord
      UNION ALL SELECT 'li_orphan_orderkey', lin.n, fk1.v,
        round(fk1.v / CAST(lin.n AS DOUBLE), 9) FROM lin, fk1
      UNION ALL SELECT 'li_orphan_partkey', lin.n, fk2.v,
        round(fk2.v / CAST(lin.n AS DOUBLE), 9) FROM lin, fk2"""))

  /** The order-book gate rulebook, shared by the batch quarantine
    * pair AND its streaming twin (one definition — the oracle is
    * shared too, so a divergence would hash-fail loudly anyway): the
    * honest lineitem constraints (prove zeros on this data), the
    * cross-table ship-before-order rule (fires on ~half the rows —
    * the dates draw independently; made row-local BEFORE the gate by
    * joining o_orderdate in, the
    * [[graft.ops.DqConstraints.quarantine]] contract), and a
    * review-band business rule (discount above the 8% approval
    * ceiling). */
  private[graft] def liGateRules
      : Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "li_quantity_out_of_range" ->
      (col("l_quantity") < 1 || col("l_quantity") > 50),
    "li_nonpositive_price" -> (col("l_extendedprice") <= 0),
    "li_ship_before_order" ->
      (col("l_shipdate").cast("date") < col("o_orderdate").cast("date")),
    "li_discount_above_approval" -> (col("l_discount") > 0.08))

  /** The gate's output projection (both halves; the flagged half adds
    * `violated_rules`). */
  private[graft] def liGateProj(df: org.apache.spark.sql.DataFrame,
      extra: Seq[String]): org.apache.spark.sql.DataFrame =
    df.select((Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_discount").map(col) ++
      Seq(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date")) ++
      extra.map(col)): _*)

  private def quarantineHalves(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.ops.DqConstraints
    val joined = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
    val routed = DqConstraints.quarantine(joined, liGateRules)
    (liGateProj(routed._1, Nil), liGateProj(routed._2,
      Seq("violated_rules")))
  }

  private def quarantineOracle(half: String): String = {
    val rules = Seq(
      "li_quantity_out_of_range" -> "l_quantity < 1 OR l_quantity > 50",
      "li_nonpositive_price" -> "l_extendedprice <= 0",
      "li_ship_before_order" ->
        "CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)",
      "li_discount_above_approval" -> "l_discount > 0.08")
    val arms = rules.map { case (nm, p) =>
      s"CASE WHEN $p THEN '$nm' END" }.mkString(", ")
    val base = s"""routed AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
          strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
          strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          list_filter([$arms], x -> x IS NOT NULL) AS viol
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""
    if (half == "clean")
      s"""WITH $base
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        ship_date, order_date
      FROM routed WHERE len(viol) = 0"""
    else
      s"""WITH $base
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        ship_date, order_date,
        array_to_string(viol, ',') AS violated_rules
      FROM routed WHERE len(viol) > 0"""
  }

  /** BMP encode→decode ROUNDTRIP gate ([[graft.ext.BmpCodec]]) — the
    * second real-decoder retirement of the multimodal stub (the
    * `ext_wav_roundtrip` contract, one modality later): per document a
    * deterministic w×h image (w = 8 + doc_id%5 covering ALL FOUR row-pad
    * cases 0..3, h = 6 + doc_id%4, pixel i packed RGB from the linear
    * congruences below) is ENCODED into actual BMP bytes — 54-byte
    * header, bottom-up rows, BGR triples, 4-byte row padding — and
    * every output column is computed by DECODING THOSE BYTES. The
    * oracle computes the same quantities straight from the generator
    * formula, so a hash match proves the binary roundtrip is lossless
    * including the row flip, the channel order, and the pad
    * arithmetic (file_len pins the size math: 54 + stride·h).
    *
    * Scale: one projection per row — no shuffle, no UDF, no driver;
    * payload bytes never leave the executor. */
  val bmpRoundtripQ = Q(
    "ext_bmp_roundtrip",
    (s, d) => {
      import graft.ext.BmpCodec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536
          + pmod(col("doc_id") * 11 + i * 3, lit(256)) * 256
          + pmod(col("doc_id") * 5 + i * 17, lit(256))).cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        BmpCodec.encodeBmp(gen, w, h).as("bmp"))
      // everything below reads the BYTES, never the generator
      val px = BmpCodec.pixels(col("bmp"))
      val fs = BmpCodec.bmpFeatures(col("bmp"))
      enc.select(col("doc_id"),
        BmpCodec.width(col("bmp")).as("width"),
        BmpCodec.height(col("bmp")).as("height"),
        length(col("bmp")).as("file_len"),
        BmpCodec.numPixels(col("bmp")).as("n_px"),
        aggregate(px, lit(0L), (a, p) =>
          a + floor(p / 65536).cast("long")
            + pmod(floor(p / 256).cast("long"), lit(256))
            + pmod(p, lit(256))).as("sum_rgb"),
        element_at(px, 1).as("px_first"),
        element_at(px, -1).as("px_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          px[(n*$b//4 + 1):(n*${b + 1}//4)],
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 765.0), 6)"""
      s"""WITH gen AS (
        SELECT doc_id,
          8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> CAST(((doc_id*7 + i*13) % 256) * 65536
              + ((doc_id*11 + i*3) % 256) * 256
              + (doc_id*5 + i*17) % 256 AS INTEGER)) AS px
        FROM documents)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(54 + (w*3 + (4 - (w*3) % 4) % 4) * h AS INTEGER) AS file_len,
        CAST(w * h AS BIGINT) AS n_px,
        CAST(list_sum(list_transform(px,
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS BIGINT)
          AS sum_rgb,
        px[1] AS px_first, px[n] AS px_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** RLE8 BMP encode→decode ROUNDTRIP gate ([[graft.ext.Rle8Codec]],
    * r12 VERDICT stretch — the first COMPRESSED format in the codec
    * family): per document a deterministic w×h GRAY image with runs of
    * 4 (gray_i = (doc_id·7 + ⌊i/4⌋·13) mod 256 — consecutive groups
    * differ by 13 mod 256, so runs never merge and the encoded length
    * is formula-predictable) is ENCODED into actual BI_RLE8 bytes —
    * 1078-byte header+palette, bottom-up rows of (count, index) run
    * pairs, EOL per row, one EOB — and every output column is computed
    * by DECODING THOSE BYTES. The oracle computes the same quantities
    * from the generator formula, including `file_len` from the run
    * structure itself (a new run starts at each row start or value
    * change; file_len = 1078 + 2·(runs + h + 1)) — so a hash match
    * proves the COMPRESSION layer roundtrips losslessly: run packing,
    * row splits, the palette resolve, and the bottom-up flip.
    *
    * Scale: one projection per row; decode scans the command stream
    * (≤ pixels), never a per-pixel byte walk. */
  val rle8RoundtripQ = Q(
    "ext_rle8_roundtrip",
    (s, d) => {
      import graft.ext.Rle8Codec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        pmod(col("doc_id") * 7 + floor(i / 4).cast("int") * 13,
          lit(256)).cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        Rle8Codec.encodeRle8(gen, w, h).as("rle"))
      // everything below reads the BYTES, never the generator
      val px = Rle8Codec.pixels(col("rle"))
      val fs = Rle8Codec.rle8Features(col("rle"))
      enc.select(col("doc_id"),
        Rle8Codec.width(col("rle")).as("width"),
        Rle8Codec.height(col("rle")).as("height"),
        length(col("rle")).as("file_len"),
        Rle8Codec.numPixels(col("rle")).as("n_px"),
        aggregate(px, lit(0L), (a, p) =>
          a + floor(p / 65536).cast("long")
            + pmod(floor(p / 256).cast("long"), lit(256))
            + pmod(p, lit(256))).as("sum_rgb"),
        element_at(px, 1).as("px_first"),
        element_at(px, -1).as("px_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          px[(n*$b//4 + 1):(n*${b + 1}//4)],
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 765.0), 6)"""
      s"""WITH gen AS (
        SELECT doc_id,
          8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> CAST(((doc_id*7 + (i//4)*13) % 256) * 65536
              + ((doc_id*7 + (i//4)*13) % 256) * 256
              + (doc_id*7 + (i//4)*13) % 256 AS INTEGER)) AS px
        FROM documents)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(1078 + 2 * (list_sum(list_transform(range(0, n),
            i -> CASE WHEN i % w = 0 OR px[i+1] != px[i]
                 THEN 1 ELSE 0 END)) + h + 1) AS INTEGER) AS file_len,
        CAST(w * h AS BIGINT) AS n_px,
        CAST(list_sum(list_transform(px,
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS BIGINT)
          AS sum_rgb,
        px[1] AS px_first, px[n] AS px_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** MODE-2 RLE8 roundtrip gate (r13 VERDICT #5 —
    * [[graft.ext.Rle8Codec.encodeRle8Mode2]] carries the full BI_RLE8
    * command set): per document the SAME generator image is encoded
    * through absolute blocks, horizontal and vertical deltas, and
    * early EOLs — stored row 0 skipped outright, cols 3-4 and the last
    * column of every other row left to the index-0 fill — and every
    * output column is computed by DECODING THOSE BYTES through the
    * full-command-set scan. The oracle replays the pixel map (written
    * cells = generator, skipped cells = 0) AND the length equation
    * from the command structure itself (1078 + initial delta 4 +
    * per-row 12 fixed + 2·runs + EOB 2), so a hash match proves the
    * validator admits well-formed mode-2 streams and the decode/pool
    * folds fill exactly the skipped cells — the mode-2 twin of
    * `ext_rle8_roundtrip`. */
  val rle8Mode2RoundtripQ = Q(
    "ext_rle8_mode2_roundtrip",
    (s, d) => {
      import graft.ext.Rle8Codec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        pmod(col("doc_id") * 7 + floor(i / 4).cast("int") * 13,
          lit(256)).cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        Rle8Codec.encodeRle8Mode2(gen, w, h).as("rle"))
      // everything below reads the BYTES, never the generator
      val px = Rle8Codec.pixels(col("rle"))
      val fs = Rle8Codec.rle8Features(col("rle"))
      enc.select(col("doc_id"),
        Rle8Codec.isRle8(col("rle")).cast("int").as("is_rle8"),
        Rle8Codec.width(col("rle")).as("width"),
        Rle8Codec.height(col("rle")).as("height"),
        length(col("rle")).as("file_len"),
        Rle8Codec.numPixels(col("rle")).as("n_px"),
        aggregate(px, lit(0L), (a, p) =>
          a + floor(p / 65536).cast("long")
            + pmod(floor(p / 256).cast("long"), lit(256))
            + pmod(p, lit(256))).as("sum_rgb"),
        element_at(px, 1).as("px_first"),
        element_at(px, -1).as("px_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          px[(n*$b//4 + 1):(n*${b + 1}//4)],
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 765.0), 6)"""
      // written cells carry the generator gray; stored row 0 (logical
      // bottom), cols 3-4, and the last column of written rows decode
      // as palette index 0 = black
      s"""WITH gen AS (
        SELECT doc_id,
          8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> CASE
              WHEN i // (8 + doc_id % 5) = (6 + doc_id % 4) - 1 THEN 0
              WHEN i % (8 + doc_id % 5) IN (3, 4) THEN 0
              WHEN i % (8 + doc_id % 5) = (8 + doc_id % 5) - 1 THEN 0
              ELSE CAST(((doc_id*7 + (i//4)*13) % 256) * 65536
                + ((doc_id*7 + (i//4)*13) % 256) * 256
                + (doc_id*7 + (i//4)*13) % 256 AS INTEGER) END) AS px
        FROM documents)
      SELECT doc_id, 1 AS is_rle8,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(1078 + 4 + 2
          + list_sum(list_transform(range(0, h - 1), L -> 12
            + 2 * list_sum(list_transform(range(5, w - 1), c ->
                CASE WHEN c = 5
                  OR (L*w + c) // 4 != (L*w + c - 1) // 4
                THEN 1 ELSE 0 END))))
          AS INTEGER) AS file_len,
        CAST(w * h AS BIGINT) AS n_px,
        CAST(list_sum(list_transform(px,
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS BIGINT)
          AS sum_rgb,
        px[1] AS px_first, px[n] AS px_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** DOWNSAMPLE-THEN-VERIFY over real WAV bytes
    * ([[graft.ext.WavCodec.downsample]] carries the decimation
    * contract): every clip decimated 2× and RE-ENCODED; all reported
    * stats decode the NEW payload's bytes — rate halved, ceil(n/2)
    * samples, and the positional contract (first kept sample = old
    * first, last = old even-index last) hash-proven against the
    * generator formula. The rate-normalization step of an audio
    * training pipeline, one pure projection. */
  val wavDownsampleQ = Q(
    "ext_wav_downsample",
    (s, d) => {
      import graft.ext.WavCodec
      val n = lit(64) + pmod(col("doc_id"), lit(32))
      val rate = (lit(8000) + pmod(col("doc_id"), lit(3)) * 4000)
        .cast("int")
      val gen = transform(sequence(lit(0), n - 1), i =>
        (pmod(col("doc_id") * 31 + i * 17, lit(65536)) - 32768)
          .cast("int"))
      // the cache barrier between ENCODE and DOWNSAMPLE is
      // load-bearing for evaluation complexity, not just reuse:
      // samples() re-derives its hex view per element inside the
      // transform lambda, so feeding downsample the NESTED encode
      // expression re-evaluates the full encode per decoded sample —
      // O(n²) encodes per row (measured: 357 s at sf0.001; with the
      // barrier, ~20 s). Materializing first is also the honest
      // pipeline shape: re-encode reads stored payloads, exactly as a
      // lake stage would
      val raw = graft.ops.CacheScope.persist(
        Tables.documents(s, d).select(col("doc_id"),
          WavCodec.encodeWav(gen, rate).as("wav0")))
      val enc = graft.ops.CacheScope.persist(
        raw.select(col("doc_id"),
          WavCodec.downsample(col("wav0"), 2).as("wav")))
      // everything below reads the RE-ENCODED bytes
      val ss = WavCodec.samples(col("wav"))
      enc.select(col("doc_id"),
        WavCodec.sampleRate(col("wav")).as("sample_rate"),
        WavCodec.numSamples(col("wav")).as("n_samples"),
        aggregate(ss, lit(0L), (a, x) => a + abs(x)).as("sum_abs"),
        element_at(ss, 1).as("s_first"),
        element_at(ss, -1).as("s_last"))
    },
    Some("""WITH gen AS (
        SELECT doc_id,
          CAST((8000 + (doc_id % 3) * 4000) // 2 AS BIGINT)
            AS sample_rate,
          64 + doc_id % 32 AS n,
          list_transform(range(0, 64 + doc_id % 32),
            i -> CAST((doc_id*31 + i*17) % 65536 - 32768 AS INTEGER))
            AS ss
        FROM documents),
      ds AS (
        SELECT doc_id, sample_rate, (n + 1) // 2 AS m,
          list_transform(range(0, (n + 1) // 2), j -> ss[2*j + 1])
            AS kept
        FROM gen)
      SELECT doc_id, sample_rate, CAST(m AS BIGINT) AS n_samples,
        CAST(list_sum(list_transform(kept, s -> abs(s))) AS BIGINT)
          AS sum_abs,
        kept[1] AS s_first, kept[m] AS s_last
      FROM ds"""))

  /** PPM encode→decode ROUNDTRIP gate ([[graft.ext.PpmCodec]]) — the
    * THIRD real-decoder widening of the multimodal stub (r11 VERDICT
    * stretch), the `ext_bmp_roundtrip` contract on the netpbm P6
    * layout: the SAME deterministic w×h pixel formula is ENCODED into
    * actual P6 bytes — 19-byte canonical ASCII header, top-down RGB
    * triples, no padding — and every output column is computed by
    * DECODING THOSE BYTES. The oracle computes the same quantities
    * straight from the generator formula, so a hash match proves the
    * roundtrip lossless including the ASCII-dims header arithmetic
    * (file_len pins 19 + 3·w·h). PpmSpec additionally pins the
    * dHash-consumption contract: the same pixels encoded as BMP and
    * as PPM pool to byte-identical profiles through the
    * [[graft.ext.Multimodal.pooledProfile]] dispatcher.
    *
    * Scale: one projection per row — no shuffle, no UDF, no driver. */
  val ppmRoundtripQ = Q(
    "ext_ppm_roundtrip",
    (s, d) => {
      import graft.ext.PpmCodec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536
          + pmod(col("doc_id") * 11 + i * 3, lit(256)) * 256
          + pmod(col("doc_id") * 5 + i * 17, lit(256))).cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        PpmCodec.encodePpm(gen, w, h).as("ppm"))
      // everything below reads the BYTES, never the generator
      val px = PpmCodec.pixels(col("ppm"))
      val fs = PpmCodec.ppmFeatures(col("ppm"))
      enc.select(col("doc_id"),
        PpmCodec.width(col("ppm")).as("width"),
        PpmCodec.height(col("ppm")).as("height"),
        length(col("ppm")).as("file_len"),
        PpmCodec.numPixels(col("ppm")).as("n_px"),
        aggregate(px, lit(0L), (a, p) =>
          a + floor(p / 65536).cast("long")
            + pmod(floor(p / 256).cast("long"), lit(256))
            + pmod(p, lit(256))).as("sum_rgb"),
        element_at(px, 1).as("px_first"),
        element_at(px, -1).as("px_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          px[(n*$b//4 + 1):(n*${b + 1}//4)],
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 765.0), 6)"""
      s"""WITH gen AS (
        SELECT doc_id,
          8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> CAST(((doc_id*7 + i*13) % 256) * 65536
              + ((doc_id*11 + i*3) % 256) * 256
              + (doc_id*5 + i*17) % 256 AS INTEGER)) AS px
        FROM documents)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(19 + 3 * w * h AS INTEGER) AS file_len,
        CAST(w * h AS BIGINT) AS n_px,
        CAST(list_sum(list_transform(px,
          p -> p // 65536 + (p // 256) % 256 + p % 256)) AS BIGINT)
          AS sum_rgb,
        px[1] AS px_first, px[n] AS px_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** PGM encode→decode ROUNDTRIP gate ([[graft.ext.PgmCodec]]) —
    * [[graft.ext.PpmCodec]]'s grayscale sibling, completing the netpbm
    * pair (P5: same canonical 19-byte header with the "P5" magic, one
    * gray byte per pixel). Every output column decodes the BYTES; the
    * replicated-channel pixel contract (g·65536 + g·256 + g) is pinned
    * by px_first/px_last and the 3·g luminance by sum_rgb and the
    * block features. PgmSpec pins the container invariance that makes
    * the replication the right contract: the same grays as PGM and as
    * an equal-channel BMP pool and dHash-band byte-identically. */
  val pgmRoundtripQ = Q(
    "ext_pgm_roundtrip",
    (s, d) => {
      import graft.ext.PgmCodec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        pmod(col("doc_id") * 7 + i * 13, lit(256)).cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        PgmCodec.encodePgm(gen, w, h).as("pgm"))
      // everything below reads the BYTES, never the generator
      val px = PgmCodec.pixels(col("pgm"))
      val fs = PgmCodec.pgmFeatures(col("pgm"))
      enc.select(col("doc_id"),
        PgmCodec.width(col("pgm")).as("width"),
        PgmCodec.height(col("pgm")).as("height"),
        length(col("pgm")).as("file_len"),
        PgmCodec.numPixels(col("pgm")).as("n_px"),
        aggregate(px, lit(0L), (a, p) =>
          a + floor(p / 65536).cast("long")
            + pmod(floor(p / 256).cast("long"), lit(256))
            + pmod(p, lit(256))).as("sum_rgb"),
        element_at(px, 1).as("px_first"),
        element_at(px, -1).as("px_last"),
        element_at(fs, 1).as("f1"), element_at(fs, 2).as("f2"),
        element_at(fs, 3).as("f3"), element_at(fs, 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          gs[(n*$b//4 + 1):(n*${b + 1}//4)], g -> 3 * g)) AS DOUBLE)
          / (CAST(n*${b + 1}//4 - n*$b//4 AS DOUBLE) * 765.0), 6)"""
      s"""WITH gen AS (
        SELECT doc_id,
          8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> (doc_id*7 + i*13) % 256) AS gs
        FROM documents)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(19 + w * h AS INTEGER) AS file_len,
        CAST(w * h AS BIGINT) AS n_px,
        CAST(list_sum(list_transform(gs, g -> 3 * g)) AS BIGINT)
          AS sum_rgb,
        CAST(gs[1] * 65793 AS INTEGER) AS px_first,
        CAST(gs[n] * 65793 AS INTEGER) AS px_last,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM gen"""
    })

  /** IMAGE EXPOSURE GATE over REAL decoded BMP pixels — the image
    * sibling of the text quality gate and the WAV VAD: per image, mean
    * normalized luminance, dark/bright pixel fractions, the luminance
    * range, and the keep verdict (neither fraction past 0.5) — the
    * curation filter that drops under/over-exposed captures before
    * they cost feature-extraction compute. The generator renders every
    * 7th doc DARK (channels mod 64) and every 11th BRIGHT (192 + mod
    * 64), so both drop directions fire; the decode side reads ONLY the
    * encoded bytes.
    *
    * Scale: completely ROW-LOCAL — decode, per-pixel luminance, and
    * all five stats are one projection with per-row array aggregates;
    * no shuffle, no window, no groupBy anywhere. Determinism: integer
    * luminance sums and counts; the two ratios and the mean round
    * identical IEEE doubles. */
  val bmpExposureQ = Q(
    "ext_bmp_exposure_gate",
    (s, d) => {
      import graft.ext.BmpCodec
      val w = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("doc_id"), lit(4))).cast("int")
      def ch(a: Int, b: Int, i: org.apache.spark.sql.Column) = {
        val base = pmod(col("doc_id") * a + i * b, lit(256))
        when(pmod(col("doc_id"), lit(7)) === 0, pmod(base, lit(64)))
          .when(pmod(col("doc_id"), lit(11)) === 0,
            pmod(base, lit(64)) + 192)
          .otherwise(base)
      }
      val gen = transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        (ch(7, 13, i) * 65536 + ch(11, 3, i) * 256 + ch(5, 17, i))
          .cast("int"))
      val enc = Tables.documents(s, d).select(col("doc_id"),
        BmpCodec.encodeBmp(gen, w, h).as("bmp"))
      // everything below reads the BYTES, never the generator
      val px = BmpCodec.pixels(col("bmp"))
      val lums = transform(px, p =>
        floor(p / 65536).cast("long")
          + pmod(floor(p / 256).cast("long"), lit(256))
          + pmod(p, lit(256)))
      enc.select(col("doc_id"),
          BmpCodec.numPixels(col("bmp")).as("n_px"),
          aggregate(lums, lit(0L), _ + _).as("sum_lum"),
          aggregate(lums, lit(0L),
            (a, l) => a + when(l < 192, 1L).otherwise(0L)).as("n_dark"),
          aggregate(lums, lit(0L),
            (a, l) => a + when(l >= 576, 1L).otherwise(0L))
            .as("n_bright"),
          array_min(lums).as("lum_min"), array_max(lums).as("lum_max"))
        .select(col("doc_id"), col("n_px"),
          round(col("sum_lum") / (col("n_px") * 765).cast("double"), 6)
            .as("mean_lum"),
          round(col("n_dark") / col("n_px").cast("double"), 6)
            .as("dark_frac"),
          round(col("n_bright") / col("n_px").cast("double"), 6)
            .as("bright_frac"),
          col("lum_min"), col("lum_max"),
          when(col("n_dark") * 2 <= col("n_px")
            && col("n_bright") * 2 <= col("n_px"), 1).otherwise(0)
            .as("keep"))
    },
    Some("""WITH gen AS (
        SELECT doc_id,
          (8 + doc_id % 5) * (6 + doc_id % 4) AS n,
          list_transform(range(0, (8 + doc_id % 5) * (6 + doc_id % 4)),
            i -> CASE WHEN doc_id % 7 = 0 THEN
                ((doc_id*7 + i*13) % 256) % 64
                + ((doc_id*11 + i*3) % 256) % 64
                + ((doc_id*5 + i*17) % 256) % 64
              WHEN doc_id % 11 = 0 THEN
                ((doc_id*7 + i*13) % 256) % 64 + 192
                + ((doc_id*11 + i*3) % 256) % 64 + 192
                + ((doc_id*5 + i*17) % 256) % 64 + 192
              ELSE ((doc_id*7 + i*13) % 256)
                + ((doc_id*11 + i*3) % 256)
                + ((doc_id*5 + i*17) % 256) END) AS lums
        FROM documents),
      st AS (
        SELECT doc_id, n,
          list_sum(lums) AS sum_lum,
          len(list_filter(lums, l -> l < 192)) AS n_dark,
          len(list_filter(lums, l -> l >= 576)) AS n_bright,
          list_min(lums) AS lum_min, list_max(lums) AS lum_max
        FROM gen)
      SELECT doc_id, CAST(n AS BIGINT) AS n_px,
        round(CAST(sum_lum AS DOUBLE) / (n * 765), 6) AS mean_lum,
        round(CAST(n_dark AS DOUBLE) / n, 6) AS dark_frac,
        round(CAST(n_bright AS DOUBLE) / n, 6) AS bright_frac,
        CAST(lum_min AS BIGINT) AS lum_min,
        CAST(lum_max AS BIGINT) AS lum_max,
        CASE WHEN n_dark * 2 <= n AND n_bright * 2 <= n
          THEN 1 ELSE 0 END AS keep
      FROM st"""))

  /** dHash near-dup pairs over REAL DECODED PIXELS
    * ([[graft.ext.Multimodal.dHashPairs]] through the
    * [[graft.ext.Multimodal.pooledProfile]] dispatcher — BMP payloads
    * pool their decoded luminance grid, not raw file bytes): each doc
    * renders a deterministic 16..20 × 12..15 image (id = 2·doc_id) and
    * a RE-ENCODE TWIN (id = 2·doc_id+1) whose every 16th pixel gains a
    * small green shift — the pixel-noise analogue of the text query's
    * 'e'→'f'. The banded Hamming join then runs over gradient signs of
    * ACTUAL pixel block means; the oracle replays pixel generation,
    * twin perturbation, 65-cell luminance pooling, gradient banding,
    * and the Hamming verify. */
  val bmpDhashQ = Q(
    "ext_bmp_dhash_pairs",
    (s, d) => {
      import graft.ext.{BmpCodec, Multimodal}
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val w = (lit(16) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(12) + pmod(col("doc_id"), lit(4))).cast("int")
      def gen(shift: Boolean) =
        transform(sequence(lit(0), w * h - 1, lit(1)), i => {
          val g0 = pmod(col("doc_id") * 11 + i * 3, lit(256))
          val g =
            if (shift) pmod(g0 + when(pmod(i, lit(16)) === 0, 3)
              .otherwise(0), lit(256))
            else g0
          (pmod(col("doc_id") * 7 + i * 13, lit(256)) * 65536
            + g * 256
            + pmod(col("doc_id") * 5 + i * 17, lit(256))).cast("int")
        })
      val variants = docs
        .select((col("doc_id") * 2).as("id"),
          BmpCodec.encodeBmp(gen(shift = false), w, h).as("payload"))
        .unionAll(docs.select((col("doc_id") * 2 + 1).as("id"),
          BmpCodec.encodeBmp(gen(shift = true), w, h).as("payload")))
      Multimodal.dHashPairs(variants, "id", "payload",
        bands = 4, bandBits = 16, maxHamming = 3)
    },
    Some("""WITH base AS (
        SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 4 AS h
        FROM documents),
      v AS (
        SELECT doc_id * 2 AS id, w * h AS n,
          list_transform(range(0, w * h), i ->
            ((doc_id*11 + i*3) % 256)) AS g,
          list_transform(range(0, w * h), i ->
            (doc_id*7 + i*13) % 256 + (doc_id*5 + i*17) % 256) AS rb
        FROM base
        UNION ALL
        SELECT doc_id * 2 + 1 AS id, w * h AS n,
          list_transform(range(0, w * h), i ->
            ((doc_id*11 + i*3 + CASE WHEN i % 16 = 0 THEN 3 ELSE 0 END)
              % 256)) AS g,
          list_transform(range(0, w * h), i ->
            (doc_id*7 + i*13) % 256 + (doc_id*5 + i*17) % 256) AS rb
        FROM base),
      lum AS (
        SELECT id, n, list_transform(range(1, n + 1),
          i -> g[i] + rb[i]) AS ls
        FROM v),
      p AS (
        SELECT id, list_transform(generate_series(0, 64), j ->
          CASE WHEN ((j + 1) * n) // 65 > (j * n) // 65 THEN
            round(CAST(list_sum(ls[(j * n) // 65 + 1:((j + 1) * n) // 65])
              AS DOUBLE)
              / (CAST(((j + 1) * n) // 65 - (j * n) // 65 AS DOUBLE) * 3.0),
              6)
          END) AS cells
        FROM lum),
      gr AS (
        SELECT id, list_transform(generate_series(0, 63), i ->
          CASE WHEN coalesce(cells[i + 2], 0.0) > coalesce(cells[i + 1], 0.0)
            THEN 1 ELSE 0 END) AS grads
        FROM p),
      sig AS MATERIALIZED (
        SELECT id, list_transform(generate_series(0, 3), b ->
          CAST(list_sum(list_transform(generate_series(0, 15), j ->
            grads[b * 16 + j + 1] * CAST(pow(2, 15 - j) AS BIGINT)))
            AS BIGINT)) AS bvs
        FROM gr),
      bands AS (
        SELECT id, bvs, CAST(b - 1 AS INT) AS band, bvs[b] AS bv
        FROM sig CROSS JOIN range(1, 5) t(b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          a.bvs AS bvs_a, b.bvs AS bvs_b
        FROM bands a JOIN bands b USING (band, bv)
        WHERE a.id < b.id)
      SELECT id_a, id_b,
        CAST(list_sum(list_transform(generate_series(1, 4), i ->
          bit_count(xor(bvs_a[i], bvs_b[i])))) AS INT) AS hamming
      FROM cand
      WHERE list_sum(list_transform(generate_series(1, 4), i ->
        bit_count(xor(bvs_a[i], bvs_b[i])))) <= 3"""))

  /** Mixed-format corpus shared by the multimodal-pipeline pair
    * (engine side; the oracle replays it from the same congruences):
    * doc_id % 4 routes each parent to a CONTAINER — 1 → BMP, 2 → PPM,
    * 3 → PGM (grayscale: the generator's green channel), 0 → OPAQUE
    * ('OPQ:' + md5, no decodable format) — so ALL FOUR dispatcher
    * branches run in one corpus. Decodable parents render a
    * 16..20 × 12..15 image (the `ext_bmp_dhash_pairs` congruences) as
    * id 2·doc_id plus a green-shift RE-ENCODE TWIN as 2·doc_id+1;
    * every multiple-of-7 parent renders DARK (channels mod 64 → every
    * luminance ≤ 189, the exposure gate's drop direction). */
  private def multimodalCorpus(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.ext.{BmpCodec, PgmCodec, PpmCodec}
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val p = col("doc_id")
    val w = (lit(16) + pmod(p, lit(5))).cast("int")
    val h = (lit(12) + pmod(p, lit(4))).cast("int")
    val dark = pmod(p, lit(7)) === 0
    def dk(c: org.apache.spark.sql.Column) =
      when(dark, pmod(c, lit(64))).otherwise(c)
    def gch(i: org.apache.spark.sql.Column, shift: Boolean) =
      if (shift) pmod(p * 11 + i * 3
          + when(pmod(i, lit(16)) === 0, 3).otherwise(0), lit(256))
      else pmod(p * 11 + i * 3, lit(256))
    def gen(shift: Boolean) =
      transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        (dk(pmod(p * 7 + i * 13, lit(256))) * 65536
          + dk(gch(i, shift)) * 256
          + dk(pmod(p * 5 + i * 17, lit(256)))).cast("int"))
    def genGray(shift: Boolean) =
      transform(sequence(lit(0), w * h - 1, lit(1)), i =>
        dk(gch(i, shift)).cast("int"))
    def fam(pred: org.apache.spark.sql.Column,
        enc: Boolean => org.apache.spark.sql.Column) = {
      val fd = docs.filter(pred)
      fd.select((p * 2).as("id"), enc(false).as("payload"))
        .unionAll(fd.select((p * 2 + 1).as("id"),
          enc(true).as("payload")))
    }
    import graft.ext.Rle8Codec
    // the grayscale family (fmtv 3) splits between the two gray
    // containers — PGM (doc_id % 8 == 7) and RLE8 (doc_id % 8 == 3) —
    // with IDENTICAL per-doc content: container invariance (the
    // Rle8Spec/PpmSpec promise) is what keeps the shared oracle's
    // luminance CTE one branch for both
    // materialize the five-family generator ONCE (eager checkpoint):
    // the honest pipeline shape — payloads arrive from storage, not an
    // inline generator — and it truncates the five encode expression
    // trees out of every downstream plan (the un-truncated union's
    // treeString grew large enough to OOM cache-name rendering in the
    // registry-wide plan lint once the RLE8 fold joined the union).
    // tracked (r13 ADVICE): the pinned RDD is released
    // DETERMINISTICALLY by the consumer's releaseAll instead of
    // whenever GC collects the frame — invoked per bench rep / lint
    // pass, unreleased checkpoints accumulate exactly like the stage
    // caches CacheScope exists to bound
    graft.ops.CacheScope.track(
    fam(pmod(p, lit(4)) === 1, sh => BmpCodec.encodeBmp(gen(sh), w, h))
      .unionAll(fam(pmod(p, lit(4)) === 2,
        sh => PpmCodec.encodePpm(gen(sh), w, h)))
      .unionAll(fam(pmod(p, lit(8)) === 7,
        sh => PgmCodec.encodePgm(genGray(sh), w, h)))
      .unionAll(fam(pmod(p, lit(8)) === 3,
        sh => Rle8Codec.encodeRle8(genGray(sh), w, h)))
      .unionAll(docs.filter(pmod(p, lit(4)) === 0)
        .select((p * 2).as("id"),
          concat(lit("OPQ:"), md5(p.cast("string"))).cast("binary")
            .as("payload")))
      .localCheckpoint())
  }

  /** Shared oracle chain for the multimodal pipeline: replay pixel /
    * byte generation, the exposure gate, 65-cell pooling (decoded
    * luminance for BMP/PPM/PGM/RLE8, raw bytes for opaque — all FIVE
    * dispatcher branches), dHash banding, the Hamming-≤3 pair join,
    * the recursive-CTE transitive closure, and keep-best; ends in
    * `kept(id)` / `fmt(id, format)` / `fmt0(id, format)` (post-gate /
    * raw). The three decodable containers share ONE luminance-list
    * CTE (vbr) because the codecs' pixel contracts are
    * container-invariant (PpmSpec/Rle8Spec-pinned): PGM and RLE8 rows
    * contribute 3·gray, exactly the replicated-channel luminance —
    * the COMPRESSED container needs no oracle branch of its own
    * because decode losslessness is already `ext_rle8_roundtrip`'s
    * hash-gated claim; only the format LABELS split on id % 8. */
  private def multimodalChainSql: String =
    s"""base AS MATERIALIZED (
        SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 4 AS h,
          doc_id % 7 = 0 AS dark, doc_id % 4 AS fmtv
        FROM documents),
      vbr AS MATERIALIZED (
        -- color containers (BMP fmtv 1, PPM fmtv 2): luminance r+g+b
        SELECT doc_id * 2 AS id, w * h AS n,
          list_transform(range(0, w * h), i ->
            CASE WHEN dark THEN
              ((doc_id*7 + i*13) % 256) % 64
              + ((doc_id*11 + i*3) % 256) % 64
              + ((doc_id*5 + i*17) % 256) % 64
            ELSE ((doc_id*7 + i*13) % 256)
              + ((doc_id*11 + i*3) % 256)
              + ((doc_id*5 + i*17) % 256) END) AS ls
        FROM base WHERE fmtv IN (1, 2)
        UNION ALL
        SELECT doc_id * 2 + 1, w * h,
          list_transform(range(0, w * h), i ->
            CASE WHEN dark THEN
              ((doc_id*7 + i*13) % 256) % 64
              + (((doc_id*11 + i*3
                  + CASE WHEN i % 16 = 0 THEN 3 ELSE 0 END) % 256) % 64)
              + ((doc_id*5 + i*17) % 256) % 64
            ELSE ((doc_id*7 + i*13) % 256)
              + ((doc_id*11 + i*3
                  + CASE WHEN i % 16 = 0 THEN 3 ELSE 0 END) % 256)
              + ((doc_id*5 + i*17) % 256) END)
        FROM base WHERE fmtv IN (1, 2)
        UNION ALL
        -- grayscale container (PGM fmtv 3): replicated-channel
        -- luminance 3*gray, gray = the generator's green channel
        SELECT doc_id * 2, w * h,
          list_transform(range(0, w * h), i ->
            3 * (CASE WHEN dark THEN ((doc_id*11 + i*3) % 256) % 64
              ELSE (doc_id*11 + i*3) % 256 END))
        FROM base WHERE fmtv = 3
        UNION ALL
        SELECT doc_id * 2 + 1, w * h,
          list_transform(range(0, w * h), i ->
            3 * (CASE WHEN dark THEN
                (((doc_id*11 + i*3
                  + CASE WHEN i % 16 = 0 THEN 3 ELSE 0 END) % 256) % 64)
              ELSE ((doc_id*11 + i*3
                + CASE WHEN i % 16 = 0 THEN 3 ELSE 0 END) % 256) END))
        FROM base WHERE fmtv = 3),
      ovr AS MATERIALIZED (
        SELECT doc_id * 2 AS id,
          strlen('OPQ:' || md5(CAST(doc_id AS VARCHAR))) AS n,
          list_transform(range(1,
              strlen('OPQ:' || md5(CAST(doc_id AS VARCHAR))) + 1),
            i -> ascii(substr('OPQ:' || md5(CAST(doc_id AS VARCHAR)),
              CAST(i AS INTEGER), 1))) AS bys
        FROM base WHERE fmtv = 0),
      bmp_s1 AS MATERIALIZED (
        SELECT id, n, ls FROM vbr
        WHERE 2 * len(list_filter(ls, l -> l < 192)) <= n
          AND 2 * len(list_filter(ls, l -> l >= 576)) <= n),
      pc AS MATERIALIZED (
        SELECT id, list_transform(generate_series(0, 64), j ->
          CASE WHEN ((j + 1) * n) // 65 > (j * n) // 65 THEN
            round(CAST(list_sum(
                ls[(j * n) // 65 + 1:((j + 1) * n) // 65]) AS DOUBLE)
              / (CAST(((j + 1) * n) // 65 - (j * n) // 65 AS DOUBLE)
                * 3.0), 6)
          END) AS cells
        FROM bmp_s1
        UNION ALL
        SELECT id, list_transform(generate_series(0, 64), j ->
          CASE WHEN ((j + 1) * n) // 65 > (j * n) // 65 THEN
            round(CAST(list_sum(
                bys[(j * n) // 65 + 1:((j + 1) * n) // 65]) AS DOUBLE)
              / CAST(((j + 1) * n) // 65 - (j * n) // 65 AS DOUBLE), 6)
          END)
        FROM ovr),
      gr AS (
        SELECT id, list_transform(generate_series(0, 63), i ->
          CASE WHEN coalesce(cells[i + 2], 0.0)
              > coalesce(cells[i + 1], 0.0)
            THEN 1 ELSE 0 END) AS grads
        FROM pc),
      sig AS MATERIALIZED (
        SELECT id, list_transform(generate_series(0, 3), b ->
          CAST(list_sum(list_transform(generate_series(0, 15), j ->
            grads[b * 16 + j + 1] * CAST(pow(2, 15 - j) AS BIGINT)))
            AS BIGINT)) AS bvs
        FROM gr),
      bands AS (
        SELECT id, bvs, CAST(b - 1 AS INT) AS band, bvs[b] AS bv
        FROM sig CROSS JOIN range(1, 5) t(b)),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          a.bvs AS bvs_a, b.bvs AS bvs_b
        FROM bands a JOIN bands b USING (band, bv)
        WHERE a.id < b.id),
      pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM cand
        WHERE list_sum(list_transform(generate_series(1, 4), i ->
          bit_count(xor(bvs_a[i], bvs_b[i])))) <= 3),
      surv AS MATERIALIZED (
        SELECT id FROM bmp_s1 UNION ALL SELECT id FROM ovr),
      edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(a, b) AS (
        SELECT id, id FROM surv
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS MATERIALIZED (
        SELECT a AS id, min(b) AS rep_id FROM reach GROUP BY a),
      kept AS MATERIALIZED (SELECT id FROM comp WHERE id = rep_id),
      fmt AS (
        SELECT id, CASE WHEN (id // 2) % 4 = 0 THEN 'opaque'
          WHEN (id // 2) % 4 = 1 THEN 'bmp'
          WHEN (id // 2) % 4 = 2 THEN 'ppm'
          WHEN (id // 2) % 8 = 3 THEN 'rle8'
          ELSE 'pgm' END AS format
        FROM surv),
      fmt0 AS (
        SELECT id, CASE WHEN (id // 2) % 4 = 0 THEN 'opaque'
          WHEN (id // 2) % 4 = 1 THEN 'bmp'
          WHEN (id // 2) % 4 = 2 THEN 'ppm'
          WHEN (id // 2) % 8 = 3 THEN 'rle8'
          ELSE 'pgm' END AS format
        FROM (SELECT id FROM vbr UNION ALL SELECT id FROM ovr))"""

  /** MULTIMODAL E2E COMPOSITE ([[graft.ext.Multimodal.imagePipeline]]
    * carries the one-call stage design): the corpusBuild pattern
    * applied to images over a MIXED-format corpus — BMP, PPM, and PGM
    * rows ride their real decodes (exposure on decoded luminance,
    * dHash on pooled pixels), opaque rows provably take the byte-grid
    * fallback — with decode → exposure gate → dHash banded pairs →
    * components → keep-best in one call. Output = surviving
    * (id, format) rows. */
  val multimodalE2eQ = Q(
    "ext_multimodal_pipeline_e2e",
    (s, d) => graft.ext.Multimodal
      .imagePipeline(multimodalCorpus(s, d), "id", "payload")._1,
    Some(s"""WITH RECURSIVE $multimodalChainSql
      SELECT k.id, f.format FROM kept k JOIN fmt f USING (id)"""))

  /** The composite's per-FORMAT funnel receipt: n_docs per stage per
    * format — the dispatcher's honest-stub boundary visible in OUTPUT
    * (opaque rows pass the exposure gate unjudged and dedup on
    * byte-grid profiles; the scaladoc caveat becomes a row a user
    * reads). */
  val multimodalFunnelQ = Q(
    "ext_multimodal_pipeline_funnel",
    (s, d) => graft.ext.Multimodal
      .imagePipeline(multimodalCorpus(s, d), "id", "payload")._2,
    Some(s"""WITH RECURSIVE $multimodalChainSql
      SELECT 0 AS stage_ord, 'raw' AS stage, format,
        count(*) AS n_docs
      FROM fmt0 GROUP BY 3
      UNION ALL
      SELECT 1, 'exposure_gate', format, count(*) FROM fmt GROUP BY 3
      UNION ALL
      SELECT 2, 'keep_best', format, count(*)
      FROM kept JOIN fmt USING (id) GROUP BY 3"""))

  /** Deterministic "video" shared by the two BMP-video queries: 4
    * concatenated 8×6 24-bit BMP frames (frame byte size 198, pad 0),
    * frame 0 drawn from a 64-key POOL (doc_id % 64 — videos in the
    * same pool share it), frames 1-3 from per-(doc, frame) keys. The
    * pixel formula is the roundtrip generator's parameterized by the
    * frame key, so the oracle replays frame CONTENT exactly; content
    * equality is the join key on both sides (the engine's md5-of-bytes
    * and the oracle's pixel-list equality induce the same partition). */
  private def bmpVideoCol: org.apache.spark.sql.Column = {
    import graft.ext.BmpCodec
    def px(k: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(47), lit(1)), i =>
        (pmod(k * 7 + i * 13, lit(256)) * 65536
          + pmod(k * 11 + i * 3, lit(256)) * 256
          + pmod(k * 5 + i * 17, lit(256))).cast("int"))
    def frame(k: org.apache.spark.sql.Column) =
      BmpCodec.encodeBmp(px(k), lit(8), lit(6))
    concat(
      frame(pmod(col("doc_id"), lit(64))),
      frame(lit(100000) + col("doc_id") * 10 + 1),
      frame(lit(100000) + col("doc_id") * 10 + 2),
      frame(lit(100000) + col("doc_id") * 10 + 3))
  }

  /** The oracle CTE both BMP-video oracles share: (doc_id, f, k). */
  private val bmpVideoKeysCte = """fr AS (
        SELECT doc_id, f,
          CASE WHEN f = 0 THEN doc_id % 64
               ELSE 100000 + doc_id * 10 + f END AS k
        FROM documents CROSS JOIN range(0, 4) t(f))"""

  /** VIDEO frame sampling with REAL per-frame decode
    * ([[graft.ext.Multimodal.explodeFrames]] through the
    * [[graft.ext.Multimodal.decodeFeatures]] dispatcher): the video is
    * 4 concatenated BMP frames, the fixed-stride chunker lands exactly
    * on frame boundaries, each chunk format-tags as BMP, and the
    * emitted per-frame features are ACTUAL pixel block luminances —
    * the video leg of the stub retirement (frame extraction + decode
    * both real for the fixed-layout case; an inter-frame codec stays
    * out of scope in this container). Oracle: the generator formula's
    * block luminances per (doc, frame). */
  val videoBmpFramesQ = Q(
    "ext_video_bmp_frames",
    (s, d) => {
      import graft.ext.Multimodal
      Multimodal.explodeFrames(
        Tables.documents(s, d).select(col("doc_id"),
          bmpVideoCol.as("payload")),
        "doc_id", "payload", chunkLen = 198, stride = 198, maxChunks = 4)
        .select(col("doc_id"), col("frame_idx"),
          element_at(col("frame_features"), 1).as("f1"),
          element_at(col("frame_features"), 2).as("f2"),
          element_at(col("frame_features"), 3).as("f3"),
          element_at(col("frame_features"), 4).as("f4"))
    },
    Some {
      def blk(b: Int) =
        s"""round(CAST(list_sum(list_transform(
          range(${b * 12}, ${(b + 1) * 12}), i ->
            (k*7 + i*13) % 256 + (k*11 + i*3) % 256
              + (k*5 + i*17) % 256)) AS DOUBLE) / (12 * 765.0), 6)"""
      s"""WITH $bmpVideoKeysCte
      SELECT doc_id, CAST(f AS INT) AS frame_idx,
        ${blk(0)} AS f1, ${blk(1)} AS f2, ${blk(2)} AS f3,
        ${blk(3)} AS f4
      FROM fr"""
    })

  /** SHARED-FRAME video dedup over REAL frame bytes
    * ([[graft.ext.Multimodal.sharedFramePairs]] carries the
    * digest-equi-join / boilerplate-prune scale design): videos in the
    * same 64-key pool share frame 0's exact BMP bytes, so every
    * same-pool pair surfaces with n_shared ≥ 1 — the engine joins on
    * md5 of the REAL frame bytes, the oracle on the generator pixel
    * lists (the same content partition, since frames are equal iff
    * their pixels are). Unique-key frames that happen to coincide
    * (the key formula cycles mod 256) are replayed identically on
    * both sides. */
  val videoBmpSharedQ = Q(
    "ext_video_bmp_shared_frames",
    (s, d) => graft.ext.Multimodal.sharedFramePairs(
      Tables.documents(s, d).select(col("doc_id"),
        bmpVideoCol.as("payload")),
      "doc_id", "payload", chunkLen = 198, stride = 198, maxChunks = 4,
      minShared = 1, maxDocsPerFrame = 50),
    Some(s"""WITH $bmpVideoKeysCte,
      px AS MATERIALIZED (
        SELECT doc_id, array_to_string(list_transform(range(0, 48),
          i -> ((k*7 + i*13) % 256) * 65536 + ((k*11 + i*3) % 256) * 256
            + (k*5 + i*17) % 256), ',') AS content
        FROM fr),
      dfr AS MATERIALIZED (SELECT DISTINCT doc_id, content FROM px),
      keep AS (
        SELECT content FROM (
          SELECT content, count(*) AS df FROM dfr GROUP BY 1)
        WHERE df <= 50 AND df >= 2),
      pr AS MATERIALIZED (
        SELECT dfr.doc_id, dfr.content FROM dfr JOIN keep USING (content)),
      pd AS (SELECT doc_id, count(*) AS nf FROM dfr GROUP BY 1),
      pairs AS (
        SELECT p1.doc_id AS id_a, p2.doc_id AS id_b,
          count(*) AS n_shared
        FROM pr p1 JOIN pr p2
          ON p1.content = p2.content AND p1.doc_id < p2.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 1)
      SELECT id_a, id_b, n_shared,
        round(CAST(n_shared AS DOUBLE) / least(pa.nf, pb.nf), 6) AS frac
      FROM pairs
      JOIN pd pa ON id_a = pa.doc_id
      JOIN pd pb ON id_b = pb.doc_id"""))

  /** DQ QUARANTINE ROUTING, clean half
    * ([[graft.ops.DqConstraints.quarantine]] carries the one-projection
    * routing design and the partition-exactness contract): rows passing
    * every row-local rule, ready to load. */
  val dqQuarantineCleanQ = Q(
    "q_dq_quarantine_clean",
    (s, d) => quarantineHalves(s, d)._1,
    Some(quarantineOracle("clean")))

  /** DQ QUARANTINE ROUTING, quarantined half: every violating row with
    * its self-describing `violated_rules` list — the reference's
    * flagged_duplicates table generalized to an arbitrary rulebook. */
  val dqQuarantineFlaggedQ = Q(
    "q_dq_quarantine_flagged",
    (s, d) => quarantineHalves(s, d)._2,
    Some(quarantineOracle("flagged")))

  /** STREAMING quarantine routing
    * ([[graft.streaming.StreamPipeline.dqQuarantineAvailableNow]]
    * carries the stateless landing-zone design and the shared-rulebook
    * contract): the flagged half of the same gate, diverted at ingest.
    * Oracle shared verbatim with the batch flagged half. */
  val dqQuarantineStreamQ = Q(
    "q_stream_dq_quarantine",
    (s, d) => graft.streaming.StreamPipeline
      .dqQuarantineAvailableNow(s, d),
    Some(quarantineOracle("flagged")))

  /** SKETCH-ACCURACY EVAL — "measure, don't guess" applied to the
    * engine's own approximations: per order priority, the mergeable
    * histogram-sketch quantile estimates
    * ([[graft.ext.Sketches.histogramQuantiles]], width 10 000) against
    * the EXACT distributed disc-percentiles
    * ([[graft.ext.Stats.distDiscPercentilesBy]]) at q ∈
    * {.25, .5, .75, .9}, with the relative error per cell. The
    * operator a platform team runs before trusting a sketch width for
    * a dashboard; both sides are deterministic, so the error itself is
    * hash-gated (the IVF/PQ oracle-checked-approximation contract).
    * Scale: the sketch is one (group, bucket) hash agg; the exact side
    * is the grouped two-phase prefix sum; everything downstream is
    * bounded (groups × quantiles). */
  val sketchErrQ = Q(
    "ext_sketch_quantile_error",
    (s, d) => {
      val o = Tables.orders(s, d)
      val est = graft.ext.Sketches.histogramQuantiles(
        o, col("o_totalprice"), "o_orderpriority",
        width = 10000, qs = Seq(0.25, 0.5, 0.75, 0.9))
      val exact = graft.ext.Stats.distDiscPercentilesBy(
        o, "o_totalprice", "o_orderpriority",
        Seq((1, 4), (1, 2), (3, 4), (9, 10)),
        Seq("p25", "p50", "p75", "p90"))
      val exl = exact.select(col("o_orderpriority"),
        stack(lit(4),
          lit(0.25), col("p25"), lit(0.5), col("p50"),
          lit(0.75), col("p75"), lit(0.9), col("p90"))
          .as(Seq("q", "exact_v")))
      est.join(exl, Seq("o_orderpriority", "q"))
        .select(col("o_orderpriority"), col("q"), col("n"),
          col("est").as("sketch_v"), col("exact_v"),
          round(abs(col("est") - col("exact_v")) / col("exact_v"), 6)
            .as("rel_err"))
    },
    Some("""WITH t AS (
        SELECT o_orderpriority AS g, o_totalprice AS v,
          CAST(floor(o_totalprice) AS BIGINT) AS vl
        FROM orders),
      h AS (
        SELECT g, vl - (vl % 10000) AS bucket, count(*) AS cnt
        FROM t GROUP BY 1, 2),
      c AS (
        SELECT g, bucket, cnt,
          CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket)
            AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM h),
      x AS (
        SELECT g, q, n, bucket, cnt, cum,
          CAST(q AS DOUBLE) * n AS target,
          row_number() OVER (PARTITION BY g, q ORDER BY bucket) AS rn
        FROM c CROSS JOIN (
          SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
            CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q) qq
        WHERE cum >= CAST(q AS DOUBLE) * n),
      est AS (
        SELECT g, q, n,
          round(bucket + 10000 * (target - (cum - cnt)) / cnt, 6)
            AS sketch_v
        FROM x WHERE rn = 1),
      ex AS (
        SELECT g,
          CAST(quantile_disc(v, 0.25) AS DOUBLE) AS p25,
          CAST(quantile_disc(v, 0.5) AS DOUBLE) AS p50,
          CAST(quantile_disc(v, 0.75) AS DOUBLE) AS p75,
          CAST(quantile_disc(v, 0.9) AS DOUBLE) AS p90
        FROM t GROUP BY 1),
      exl AS (
        SELECT g, CAST(0.25 AS DOUBLE) AS q, p25 AS exact_v FROM ex
        UNION ALL SELECT g, CAST(0.5 AS DOUBLE), p50 FROM ex
        UNION ALL SELECT g, CAST(0.75 AS DOUBLE), p75 FROM ex
        UNION ALL SELECT g, CAST(0.9 AS DOUBLE), p90 FROM ex)
      SELECT e.g AS o_orderpriority, e.q, e.n, e.sketch_v, x2.exact_v,
        round(abs(e.sketch_v - x2.exact_v) / x2.exact_v, 6) AS rel_err
      FROM est e JOIN exl x2 ON e.g = x2.g AND e.q = x2.q"""))

  /** Streaming DQ audit
    * ([[graft.streaming.StreamPipeline.dqConstraintsAvailableNow]]
    * carries the stream-static/row-local design): the rulebook as a
    * landing-zone monitor, all rules lineitem-grain. Oracle = one
    * CASE-sum scan over lineitem LEFT-joined to the dimension keys (no
    * cutoff — counter state is volume-independent and drains
    * complete). */
  val dqStreamQ = Q(
    "q_stream_dq_constraints",
    (s, d) => graft.streaming.StreamPipeline
      .dqConstraintsAvailableNow(s, d),
    Some("""WITH j AS (
        SELECT l.*, o.o_orderkey AS ok, o.o_orderdate AS odate,
          p.p_partkey AS pk
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey),
      w AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
            THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
          CAST(sum(CASE WHEN l_extendedprice <= 0
            THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
          CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A','N')
            THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
          CAST(sum(CASE WHEN odate IS NOT NULL
            AND CAST(l_shipdate AS DATE) < CAST(odate AS DATE)
            THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
          CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS v_fk_o,
          CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS v_fk_p
        FROM j)
      SELECT 'li_quantity_out_of_range' AS rule, n AS n_checked,
        v_qty AS n_violations,
        round(v_qty / CAST(n AS DOUBLE), 9) AS violation_rate FROM w
      UNION ALL SELECT 'li_nonpositive_price', n, v_price,
        round(v_price / CAST(n AS DOUBLE), 9) FROM w
      UNION ALL SELECT 'li_bad_returnflag', n, v_rf,
        round(v_rf / CAST(n AS DOUBLE), 9) FROM w
      UNION ALL SELECT 'li_ship_before_order', n, v_ship,
        round(v_ship / CAST(n AS DOUBLE), 9) FROM w
      UNION ALL SELECT 'li_orphan_orderkey', n, v_fk_o,
        round(v_fk_o / CAST(n AS DOUBLE), 9) FROM w
      UNION ALL SELECT 'li_orphan_partkey', n, v_fk_p,
        round(v_fk_p / CAST(n AS DOUBLE), 9) FROM w"""))

  def all: Seq[Q] = Seq(
    linkPredictionQ, qlDirichletQ, targetEncodeQ, featureHashQ,
    knBigramQ, ngramNoveltyQ, bootstrapQ, mutualInfoQ, sharedFramesQ,
    ksTestQ, wassersteinQ, jsDivergenceQ, truncationQ, kmeansQ, kmeansStreamQ,
    kmeansSilhouetteQ, rakeQ,
    woeIvQ, quantileBinsQ, audioMatchQ, mannWhitneyQ, tokenizerCoverageQ,
    lshDedupStreamQ, wavRoundtripQ, wavVadQ, wavDownsampleQ,
    topValueStreamQ, keySkewQ, ecdfQ,
    pmiQ, sourceOutliersQ, wavStreamQ, dqConstraintsQ, sketchErrQ,
    dqStreamQ, dqQuarantineCleanQ, dqQuarantineFlaggedQ,
    bmpRoundtripQ, bmpDhashQ, bmpExposureQ, lshDedupPrunedQ,
    videoBmpFramesQ, videoBmpSharedQ, dqQuarantineStreamQ,
    multimodalE2eQ, multimodalFunnelQ, ppmRoundtripQ, pgmRoundtripQ,
    rle8RoundtripQ, rle8Mode2RoundtripQ)
}
