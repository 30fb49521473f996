package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Multimodal, PqIndex, Retrieval, Similarity, Sketches, TextDedup, TextStats}
import graft.ops.Scratch

/** LLM-data-pipeline extension queries (SURVEY.md §2.10): dedup family,
  * similarity search, text analysis, multimodal plumbing — each with a
  * DuckDB oracle where the math is portable (everything here is md5-based
  * or 6-dp-rounded specifically so it is).
  */
object ExtQueries {

  // ---- text analysis -------------------------------------------------------

  val textStats = Q(
    "ext_text_stats",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextStats.tokenCount(col("text")).as("n_tokens"),
      TextStats.bpeishTokenCount(col("text")).as("n_bpeish"),
      TextStats.charCount(col("text")).as("n_chars_m"),
      TextStats.meanWordLen(col("text")).as("mean_word_len"),
      TextStats.stopwordRatio(col("text")).as("stopword_ratio")),
    Some(s"""SELECT doc_id,
      len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS n_bpeish,
      length(text) AS n_chars_m,
      round(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'))
        / CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE), 6)
        AS mean_word_len,
      round(len(list_filter(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+'),
          t -> t IN (${TextStats.enStopwords.map(w => s"'$w'").mkString(",")})))
        / CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE), 6)
        AS stopword_ratio
      FROM documents"""),
    bench = true)

  // ---- shared DuckDB fragments for the quality-score components ----------
  // (one definition, used by BOTH the ext_quality_score and
  // ext_corpus_report oracles — two hand-maintained copies would be the
  // oracle-drift bug class)

  /** DuckDB char-set trim mirroring [[graft.ops.ScalarFns.strip]]
    * (Java `\s` = [ \t\n\x0B\f\r]): DuckDB's one-arg `trim()` strips
    * SPACES only, so a tab- or newline-edged document would tokenize to
    * a different count across engines and break the hash gate. Shared by
    * the quality fragments (~17 oracles) and the dsir tokenizer. */
  private[graft] def wsTrimSql(e: String): String =
    s"trim($e, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))"

  private def qcTokSql =
    s"""len(string_split_regex(${wsTrimSql("text")}, '[ \\t\\n\\x0B\\f\\r]+'))"""
  private def qcSrSql =
    s"""round(len(list_filter(string_split_regex(${wsTrimSql("lower(text)")}, '[ \\t\\n\\x0B\\f\\r]+'),
          t -> t IN (${TextStats.enStopwords.map(w => s"'$w'").mkString(",")})))
        / CAST(len(string_split_regex(${wsTrimSql("text")}, '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE), 6)"""
  private def qcPrSql =
    """round(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]'))
        / CAST(length(text) AS DOUBLE), 6)"""
  private def qcDrSql =
    """round(len(regexp_extract_all(text, '[0-9]'))
        / CAST(length(text) AS DOUBLE), 6)"""
  private def qualityCompositeSql(tc: String, sr: String, pr: String,
      dr: String) =
    s"""round(least(1.0, $tc / 20.0) * 0.4
          + least(1.0, $sr * 4.0) * 0.3
          + greatest(0.0, 1.0 - $pr * 5.0) * 0.2
          + greatest(0.0, 1.0 - $dr * 5.0) * 0.1, 6)"""

  val quality = Q(
    "ext_quality_score",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextStats.qualityScore(col("text")).as("quality")),
    // the composite is plain IEEE arithmetic over 6-dp-rounded ratios —
    // same component order on both engines, so the doubles are
    // bit-identical (left-assoc sums, identical rounding)
    Some(s"""WITH c AS (
        SELECT doc_id, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM documents)
      SELECT doc_id,
        ${qualityCompositeSql("tc", "sr", "pr", "dr")} AS quality
      FROM c"""))

  val langid = Q(
    "ext_langid",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextStats.langId(col("text")).as("lang_pred")),
    // scores per language + first-match-wins argmax in ascending lang
    // order — the CASE replays langId's when-chain exactly, ties and all
    Some {
      val langs = TextStats.langStopwords.toSeq.sortBy(_._1)
      def scoreCol(lang: String) = s"s_$lang"
      val scoreExprs = langs.map { case (lang, words) =>
        s"""round(len(list_filter(toks, t -> t IN (${
          words.map(w => s"'$w'").mkString(",")})))
          / CAST(len(toks) AS DOUBLE), 6) AS ${scoreCol(lang)}"""
      }.mkString(",\n          ")
      val gx = langs.map(l => scoreCol(l._1)).mkString(", ")
      val cases = langs.map { case (lang, _) =>
        s"WHEN ${scoreCol(lang)} = greatest($gx) THEN '$lang'"
      }.mkString("\n          ")
      s"""WITH t AS (
          SELECT doc_id,
            string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
          $scoreExprs
          FROM t)
        SELECT doc_id,
          CASE WHEN greatest($gx) <= 0 THEN 'und'
          $cases
          ELSE 'und' END AS lang_pred
        FROM s"""
    })

  /** PII redaction over a corpus deterministically salted with an email,
    * phone, IP, and URL derived from each doc_id — so every pattern and
    * the staged application order are load-bearing for the hash to
    * match (the raw corpus is PII-free; without injection the oracle
    * would be a no-op). */
  val piiRedact = Q(
    "ext_pii_redact",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com or +1 (555) 867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), col("doc_id") % 256,
        lit(".7 see https://ex.org/d/"), col("doc_id")).as("t"))
      .select(col("doc_id"),
        TextStats.redactPii(col("t")).as("redacted"),
        TextStats.piiCount(col("t")).as("n_redacted")),
    Some {
      val stages = TextStats.piiPatterns.zipWithIndex.map {
        case ((tag, p), i) =>
          val prev = if (i == 0) "raw" else s"s$i"
          val counts = (1 to i).map(j => s"c$j, ").mkString
          s"""s${i + 1} AS (
            SELECT doc_id, ${counts}len(regexp_extract_all(t, '$p')) AS c${i + 1},
              regexp_replace(t, '$p', '<${tag.toUpperCase}>', 'g') AS t
            FROM $prev)"""
      }.mkString(",\n        ")
      // final stage + count sum derived from the pattern list, so a
      // pattern added to piiPatterns cannot silently desync the oracle
      val nStages = TextStats.piiPatterns.length
      val countSum = (1 to nStages).map(i => s"c$i").mkString(" + ")
      s"""WITH raw AS (
          SELECT doc_id, text || ' contact u' || doc_id
            || '@example.com or +1 (555) 867-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
            || '.7 see https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS t
          FROM documents),
        $stages
        SELECT doc_id, t AS redacted,
          CAST($countSum AS INT) AS n_redacted
        FROM s$nStages"""
    })

  /** C4-style boilerplate line removal over a deterministically salted
    * corpus: every doc gains a universal cookie banner, one of three
    * rotating template lines, and a unique `ref id N` footer — the
    * operator must strip the first two everywhere and keep the footer
    * (and the original text) untouched, preserving line order. */
  val lineDedup = Q(
    "ext_line_dedup",
    (s, d) => TextDedup.removeBoilerplateLines(
      Tables.documents(s, d).select(
        col("doc_id"),
        concat_ws("\n",
          lit("cookie notice: accept all cookies"),
          col("text"),
          element_at(
            array(lit("nav: home | about | contact"),
              lit("subscribe to our newsletter"),
              lit("(c) 2024 example corp")),
            (col("doc_id") % 3 + 1).cast("int")),
          concat(lit("ref id "), col("doc_id"))).as("text")),
      "text", "doc_id", minDocs = 10),
    Some(s"""WITH raw AS (
        SELECT doc_id,
          'cookie notice: accept all cookies' || chr(10) || text || chr(10)
          || ['nav: home | about | contact','subscribe to our newsletter',
              '(c) 2024 example corp'][CAST(doc_id % 3 + 1 AS INT)]
          || chr(10) || 'ref id ' || doc_id AS t
        FROM documents),
      ln AS (
        SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
          generate_subscripts(string_split(t, chr(10)), 1) AS pos
        FROM raw),
      fp AS (
        SELECT doc_id, pos, line,
          ${fpSql("line")} AS line_fp
        FROM ln),
      bp AS (
        SELECT line_fp FROM (
          SELECT line_fp, count(DISTINCT doc_id) AS n FROM fp
          WHERE length(trim(line)) > 0 GROUP BY 1)
        WHERE n >= 10),
      kept AS (SELECT f.* FROM fp f ANTI JOIN bp USING (line_fp)),
      agg AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
          count(*) AS n_kept
        FROM kept GROUP BY doc_id)
      SELECT r.doc_id, coalesce(a.cleaned, '') AS cleaned,
        CAST(len(string_split(r.t, chr(10))) - coalesce(a.n_kept, 0) AS INT)
          AS n_removed
      FROM raw r LEFT JOIN agg a USING (doc_id)"""),
    bench = true)

  /** BM25 ranked retrieval: global top-10 documents for a fixed
    * three-term query. See [[graft.ext.Retrieval]] for the scale and
    * determinism story. */
  val bm25 = Q(
    "ext_bm25_topk",
    (s, d) => Retrieval.bm25TopK(Tables.documents(s, d), "text", "doc_id",
      Seq("spark", "window", "vector"), k = 10),
    Some(Retrieval.bm25OracleSql(Seq("spark", "window", "vector"), 10)),
    bench = true)

  /** BM25 + pseudo-relevance feedback ([[graft.ext.Retrieval.bm25PrfTopK]]):
    * top-5 round-1 docs feed 3 Σtf·idf expansion terms into a second,
    * relationally-scored round — both rank selections bounded-heap,
    * the feedback loop never touches the driver. */
  val bm25Prf = Q(
    "ext_bm25_prf_topk",
    (s, d) => Retrieval.bm25PrfTopK(Tables.documents(s, d), "text",
      "doc_id", Seq("spark", "window", "vector"), k = 10),
    Some(Retrieval.bm25PrfOracleSql(Seq("spark", "window", "vector"), 10)))

  /** Hybrid lexical+semantic retrieval fused with RRF; doc 7's embedding
    * is the semantic query, the BM25 terms the lexical one. */
  val hybridRrf = Q(
    "ext_hybrid_rrf_topk",
    (s, d) => Retrieval.hybridRrfTopK(
      Tables.documents(s, d), Tables.embeddings(s, d), "text", "doc_id",
      Seq("spark", "window", "vector"), queryVecId = 7L, k = 10),
    Some(Retrieval.hybridRrfOracleSql(
      Seq("spark", "window", "vector"), queryVecId = 7L, k = 10)))

  /** Gopher-style intra-document repetition stats over the raw corpus. */
  val repetition = Q(
    "ext_repetition_stats",
    (s, d) => TextStats.repetitionStats(
      Tables.documents(s, d), "text", "doc_id"),
    Some("""WITH t AS (
        SELECT doc_id,
          string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
        FROM documents),
      base AS (
        SELECT doc_id,
          round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
            AS dup_token_frac,
          CASE WHEN len(tk) >= 2 THEN
            list_transform(generate_series(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1])
          ELSE CAST([] AS VARCHAR[]) END AS bg
        FROM t),
      ex AS (
        SELECT doc_id, len(bg) AS n_bg, unnest(bg) AS g FROM base),
      cnt AS (
        SELECT doc_id, g, count(*) AS c, any_value(n_bg) AS n_bg
        FROM ex GROUP BY 1, 2),
      top AS (
        SELECT doc_id, round(CAST(max(c) AS DOUBLE) / any_value(n_bg), 6)
          AS top_bigram_frac
        FROM cnt GROUP BY 1)
      SELECT b.doc_id, b.dup_token_frac, t2.top_bigram_frac
      FROM base b LEFT JOIN top t2 USING (doc_id)"""))

  /** Deterministic id-hash train/val/test split (90/5/5). */
  val hashSplit = Q(
    "ext_hash_split",
    (s, d) => TextDedup.hashSplit(
      Tables.documents(s, d).select("doc_id"), "doc_id")
      .select("doc_id", "split"),
    Some("""SELECT doc_id,
      CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
           ELSE 'test' END AS split
      FROM (SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          AS b
      FROM documents)"""))

  private val benchSnippets = Seq(
    (1, "the quick brown fox jumps over the lazy dog near the riverbank"),
    (2, "pack my box with five dozen liquor jugs before noon tomorrow arrives"),
    (3, "sphinx of black quartz judge my vow under bright evening skies"))

  /** Corpus deterministically salted with two of the three benchmark
    * snippets (the third is the negative control): docs ≡ 7 (mod 50)
    * embed snippet 1, ≡ 23 embed snippet 2 — exactly those (doc, bench)
    * pairs must surface. Shared by both contamination variants. */
  private def saltedForContamination(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 50 === 7,
        concat(col("text"), lit(" " + benchSnippets(0)._2)))
        .when(col("doc_id") % 50 === 23,
          concat(col("text"), lit(" " + benchSnippets(1)._2)))
        .otherwise(col("text")).as("text"))

  val contamination = Q(
    "ext_contamination",
    (s, d) => {
      import s.implicits._
      val bench = benchSnippets.toDF("bench_id", "text")
      TextDedup.benchmarkContamination(
        saltedForContamination(s, d), bench, "text", "doc_id", "bench_id")
    },
    Some(contaminationOracleSql))

  /** Same scan through the Bloom-filter pre-filter
    * ([[graft.ext.TextDedup.benchmarkContaminationBloom]]) — result is
    * identical by the no-false-negatives contract, and the oracle is the
    * SAME naive containment SQL, so the equivalence is hash-gated, not
    * just spec-asserted. */
  val contaminationBloom = Q(
    "ext_contamination_bloom",
    (s, d) => {
      import s.implicits._
      val bench = benchSnippets.toDF("bench_id", "text")
      TextDedup.benchmarkContaminationBloom(
        saltedForContamination(s, d), bench, "text", "doc_id", "bench_id")
    },
    Some(contaminationOracleSql))

  private lazy val contaminationOracleSql: String =
    s"""WITH bench(bench_id, btext) AS (VALUES
        ${benchSnippets.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
      salted AS (
        SELECT doc_id,
          CASE WHEN doc_id % 50 = 7 THEN text || ' ${benchSnippets(0)._2}'
               WHEN doc_id % 50 = 23 THEN text || ' ${benchSnippets(1)._2}'
               ELSE text END AS t
        FROM documents),
      dsh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(tk) - 2),
          i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS tk
              FROM salted)),
      bsh AS (
        SELECT bench_id, unnest(list_distinct(list_transform(
          generate_series(1, len(tk) - 2),
          i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS sh
        FROM (SELECT bench_id, string_split_regex(trim(btext, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS tk
              FROM bench))
      SELECT d.doc_id, b.bench_id, count(*) AS n_shared
      FROM dsh d JOIN bsh b USING (sh)
      GROUP BY 1, 2 HAVING count(*) >= 5"""

  /** Symmetric int8 embedding quantization (4× compression), scalarized
    * to one row per (vector, dimension) for the hash compare — the codes
    * column itself stays an array in [[graft.ext.Similarity.quantizeInt8]]. */
  val quantize = Q(
    "ext_embedding_quantize",
    (s, d) => Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(Similarity.quantizeInt8(col("embedding"), col("scale"))))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("q"),
        col("scale")),
    Some("""WITH qd AS (
        SELECT vec_id,
          list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale,
          embedding
        FROM embeddings)
      SELECT vec_id,
        generate_subscripts(embedding, 1) - 1 AS dim,
        CASE WHEN scale = 0 THEN 0
          ELSE CAST(round(CAST(unnest(embedding) AS DOUBLE) / scale) AS INT)
        END AS q,
        scale
      FROM qd"""))

  /** Sequence-packing offsets ([[graft.ext.Packing]]): id-ordered corpus
    * concatenation chunked into 512-token context windows via a
    * distributed prefix sum (NOT a global-window running sum). */
  val packOffsets = Q(
    "ext_pack_offsets",
    (s, d) => graft.ext.Packing.packOffsets(
      Tables.documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", chunkTokens = 512),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            - n_tokens AS BIGINT) AS global_offset
        FROM t)
      SELECT doc_id, n_tokens, global_offset,
        global_offset // 512 AS chunk_id,
        global_offset % 512 AS offset_in_chunk
      FROM c"""))

  /** Length-balanced bin packing: minimum bin count, longest-first
    * serpentine deal (see [[graft.ext.Packing.binPack]]). The oracle
    * replays the rank/stripe arithmetic with a plain window rank — the
    * Spark side's two-phase distributed rank must land on the identical
    * integers. */
  val packBins = Q(
    "ext_pack_binpack",
    (s, d) => graft.ext.Packing.binPack(
      Tables.documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", ctxTokens = 2048),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      nb AS (
        SELECT greatest(1, (coalesce(sum(n_tokens), 0) + 2048 - 1) // 2048)
          AS nbins FROM t),
      r AS (
        SELECT doc_id, n_tokens,
          row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
        FROM t)
      SELECT doc_id, n_tokens,
        CAST(CASE WHEN (rn // nbins) % 2 = 0 THEN rn % nbins
          ELSE nbins - 1 - rn % nbins END AS BIGINT) AS bin_id
      FROM r, nb"""))

  /** Sharded inverted-index build: doc_id-ordered posting lists split
    * into ≤32-entry shards, hapax terms dropped (minDf=2). The oracle's
    * single window rank replays the Spark side's two-phase distributed
    * rank. */
  val invertedIndex = Q(
    "ext_inverted_index",
    (s, d) => graft.ext.Retrieval.invertedIndexShards(
      Tables.documents(s, d), "text", "doc_id",
      shardPostings = 32, minDf = 2),
    Some("""WITH toks AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS term
        FROM documents),
      p AS (
        SELECT term, CAST(doc_id AS BIGINT) AS doc_id, count(*) AS tf
        FROM toks GROUP BY 1, 2),
      r AS (
        SELECT term, doc_id, tf,
          row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1 AS rk,
          count(*) OVER (PARTITION BY term) AS df
        FROM p)
      SELECT term, CAST(rk // 32 AS INT) AS shard_idx, df,
        count(*) AS n_postings,
        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk)
          AS posting_docs,
        string_agg(CAST(tf AS VARCHAR), ',' ORDER BY rk) AS posting_tfs
      FROM r WHERE df >= 2
      GROUP BY term, rk // 32, df"""))

  /** Incremental index maintenance: the even-doc_id half of the corpus
    * plays the prebuilt index (minDf=1 base, per the contract), the odd
    * half plays the new batch. The oracle is the FULL-corpus rebuild —
    * incremental merge ≡ rebuild is enforced by the hash gate, while
    * only the batch's touched terms are ever re-sharded. */
  val indexDelta = Q(
    "ext_index_delta",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = graft.ext.Retrieval.invertedIndexShards(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        shardPostings = 32, minDf = 1)
      graft.ext.Retrieval.invertedIndexDelta(
        base, docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
        shardPostings = 32, minDf = 2)
    },
    Some("""WITH toks AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS term
        FROM documents),
      p AS (
        SELECT term, CAST(doc_id AS BIGINT) AS doc_id, count(*) AS tf
        FROM toks GROUP BY 1, 2),
      r AS (
        SELECT term, doc_id, tf,
          row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1 AS rk,
          count(*) OVER (PARTITION BY term) AS df
        FROM p)
      SELECT term, CAST(rk // 32 AS INT) AS shard_idx, df,
        count(*) AS n_postings,
        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk)
          AS posting_docs,
        string_agg(CAST(tf AS VARCHAR), ',' ORDER BY rk) AS posting_tfs
      FROM r WHERE df >= 2
      GROUP BY term, rk // 32, df"""))

  /** Packing-efficiency report over [[graft.ext.Packing.binPack]]'s
    * assignment: 1-row corpus summary (bin count, min/max bin tokens,
    * mean fill vs the context size, overflow fraction) — the metric a
    * packing change is judged by. All inputs integral; the two ratios
    * are single long→double divisions rounded 6 dp. */
  val packFill = Q(
    "ext_pack_fill_report",
    (s, d) => graft.ext.Packing.binPack(
      Tables.documents(s, d).select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", ctxTokens = 2048)
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .agg(count(lit(1)).as("n_bins"),
        min(col("bin_tokens")).as("min_bin_tokens"),
        max(col("bin_tokens")).as("max_bin_tokens"),
        round(sum(col("bin_tokens")).cast("double")
          / (count(lit(1)) * 2048), 6).as("avg_fill"),
        round(sum(when(col("bin_tokens") > 2048, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("overflow_frac")),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      nb AS (
        SELECT greatest(1, (coalesce(sum(n_tokens), 0) + 2048 - 1) // 2048)
          AS nbins FROM t),
      r AS (
        SELECT doc_id, n_tokens,
          row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
        FROM t),
      b AS (
        SELECT CAST(CASE WHEN (rn // nbins) % 2 = 0 THEN rn % nbins
            ELSE nbins - 1 - rn % nbins END AS BIGINT) AS bin_id,
          count(*) AS n_docs, sum(n_tokens) AS bin_tokens
        FROM r, nb GROUP BY 1)
      SELECT count(*) AS n_bins,
        CAST(min(bin_tokens) AS BIGINT) AS min_bin_tokens,
        CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
        round(CAST(sum(bin_tokens) AS DOUBLE) / (count(*) * 2048), 6)
          AS avg_fill,
        round(CAST(sum(CASE WHEN bin_tokens > 2048 THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS overflow_frac
      FROM b"""))

  /** Conjunctive boolean retrieval through the sharded inverted index:
    * docs containing ALL of {spark, window, vector}, ranked signal =
    * summed tf. The oracle replays the index semantics (minDf=2 term
    * drop included) straight from the postings. */
  val indexLookup = Q(
    "ext_index_lookup",
    (s, d) => graft.ext.Retrieval.indexConjunctiveLookup(
      Tables.documents(s, d), "text", "doc_id",
      Seq("spark", "window", "vector"), shardPostings = 32, minDf = 2),
    Some("""WITH toks AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS term
        FROM documents),
      p AS (
        SELECT term, CAST(doc_id AS BIGINT) AS doc_id, count(*) AS tf
        FROM toks GROUP BY 1, 2),
      d AS (SELECT term, count(*) AS df FROM p GROUP BY 1)
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sum_tf
      FROM p JOIN d USING (term)
      WHERE df >= 2 AND term IN ('spark', 'window', 'vector')
      GROUP BY 1 HAVING count(*) = 3"""))

  /** Sliding-window doc chunking: 32-token windows, stride 24. */
  val chunkDocs = Q(
    "ext_chunk_docs",
    (s, d) => graft.ext.Packing.chunkDocs(
      Tables.documents(s, d), "text", "doc_id",
      chunkTokens = 32, stride = 24),
    Some("""WITH t AS (
        SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
        FROM documents),
      n AS (
        SELECT doc_id, tk, len(tk) AS n,
          CASE WHEN len(tk) <= 32 THEN 1
               ELSE (len(tk) - 32 + 24 - 1) // 24 + 1 END AS n_chunks
        FROM t),
      st AS (
        SELECT doc_id, tk, n,
          unnest(generate_series(0, n_chunks - 1)) AS k
        FROM n)
      SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        CAST(k * 24 + 1 AS INT) AS chunk_start,
        CAST(least(32, n - (k * 24 + 1) + 1) AS INT) AS n_chunk_tokens,
        array_to_string(tk[(k * 24 + 1):(k * 24 + 32)], ' ') AS chunk_text
      FROM st"""))

  /** Int8-code ANN: compressed scoring pass + exact re-rank. */
  val simInt8 = Q(
    "ext_sim_int8_topk",
    (s, d) => Similarity.int8TopK(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5),
    Some(s"""WITH sc AS (
        SELECT vec_id,
          list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale,
          embedding
        FROM embeddings),
      codes AS (
        SELECT vec_id, scale,
          list_transform(embedding, x ->
            CASE WHEN scale = 0 THEN 0
              ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INT) END) AS q
        FROM sc),
      qs AS (SELECT vec_id AS query_id, scale AS q_scale, q AS q_codes
             FROM codes WHERE vec_id < 8),
      cs AS (SELECT vec_id AS neighbor_id, scale AS n_scale, q AS n_codes
             FROM codes),
      s1 AS (
        SELECT query_id, neighbor_id,
          round(q_scale * n_scale * list_dot_product(q_codes, n_codes), 6)
            AS iscore
        FROM qs JOIN cs ON query_id != neighbor_id),
      short AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY iscore DESC, neighbor_id) AS rn
          FROM s1) WHERE rn <= 20),
      re AS (
        SELECT query_id, neighbor_id, $dkCos AS cos
        FROM short
        JOIN (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_emb
          FROM embeddings) qa ON qa.vec_id = query_id
        JOIN (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS b_emb
          FROM embeddings) cb ON cb.vec_id = neighbor_id)
      SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rn
        FROM re WHERE cos IS NOT NULL) WHERE rn <= 5"""))

  /** Top-5 TF-IDF keywords per document. */
  val keywords = Q(
    "ext_keywords_tfidf",
    (s, d) => Retrieval.tfidfKeywords(
      Tables.documents(s, d), "text", "doc_id", m = 5),
    Some("""WITH terms AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
          round(tf * round(ln((n_docs + 1) / (df + 1)) + 1.0, 6), 6)
            AS tfidf
        FROM tf JOIN dfreq USING (term), nd)
      SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank FROM (
        SELECT doc_id, term, tfidf,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS rn
        FROM scored) WHERE rn <= 5"""))

  /** The content-fingerprint oracle fragment — ONE definition shared by
    * every fp-keyed oracle (ext_fingerprint, exact/incremental dedup,
    * line dedup, snapshot diff, the corpus pipelines). Mirrors
    * [[graft.ext.TextStats.fingerprint]] exactly. */
  private def fpSql(c: String = "text"): String =
    "md5(regexp_replace(lower(trim(" + c + ", ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

  val fingerprint = Q(
    "ext_fingerprint",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextStats.fingerprint(col("text")).as("fp")),
    Some(s"""SELECT doc_id,
      ${fpSql()} AS fp
      FROM documents"""))

  // ---- dedup family --------------------------------------------------------

  val dedupExact = Q(
    "ext_dedup_exact",
    (s, d) => TextDedup.exactDedup(Tables.documents(s, d), "text", "doc_id"),
    Some(s"""SELECT ${fpSql()} AS fp,
      min(doc_id) AS representative_id, count(*) AS n_copies
      FROM documents GROUP BY 1"""),
    bench = true)

  /** Incremental dedup ([[TextDedup.incrementalDedup]]): the even-id half
    * of the corpus plays the already-ingested archive (present only as
    * its fingerprint INDEX), the odd half plus re-submitted copies of
    * even docs play the incoming batch. Survivors must be exactly the
    * genuinely-new contents — the old corpus itself is never read. */
  val dedupIncremental = Q(
    "ext_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val index = TextDedup.exactDedup(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        .select("fp", "representative_id")
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      val (survivors, _) =
        TextDedup.incrementalDedup(incoming, "text", "doc_id", index)
      survivors.select("doc_id")
    },
    Some(s"""WITH old_idx AS (
        SELECT DISTINCT ${fpSql()} AS fp
        FROM documents WHERE doc_id % 2 = 0),
      incoming AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 500000, text FROM documents WHERE doc_id % 10 = 0),
      wf AS (
        SELECT doc_id,
          ${fpSql()} AS fp
        FROM incoming),
      firsts AS (SELECT fp, min(doc_id) AS doc_id FROM wf GROUP BY fp)
      SELECT f.doc_id FROM firsts f
      WHERE NOT EXISTS (SELECT 1 FROM old_idx o WHERE o.fp = f.fp)"""))

  /** Portable seeded hash in DuckDB SQL (mirror of TextDedup.seededHash). */
  private def dkHash(seed: Int, expr: String) =
    s"CAST(('0x' || substring(md5('$seed:' || $expr), 1, 8)) AS BIGINT)"

  private def dkShingles(n: Int) =
    s"""list_distinct(list_transform(
      generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
      i -> array_to_string(toks[i:i+${n - 1}], ' ')))"""

  /** Composable CTE chain ending in `scored(id_a, id_b, jaccard)` —
    * shared by the MinHash oracle and the components oracle. */
  private def minhashCteBody: String = minhashCteBodyFrom("documents")

  /** Same CTE chain but reading (doc_id, text) from an arbitrary earlier
    * CTE — lets composed pipelines run the LSH stage over a pre-filtered
    * corpus. `withSig = true` additionally carries the per-doc signature
    * arrays through `banded`/`cand` (as sig_a/sig_b) for oracles that
    * compare the signature ESTIMATE against the exact hash-set Jaccard;
    * the extra columns are functionally dependent on doc_id, so the
    * DISTINCT grain of `cand` is unchanged. */
  private def minhashCteBodyFrom(src: String,
      withSig: Boolean = false): String = {
    val sigExprs = (0 until 8).map { i =>
      val (a, b) = (graft.ext.TextDedup.minhashA(i),
        graft.ext.TextDedup.minhashB(i))
      s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647))"
    }
    val bandExprs = (0 until 4).map { b =>
      val lo = b * 2
      s"'$b' || ',' || CAST(sig[${lo + 1}] AS VARCHAR) || ',' || CAST(sig[${lo + 2}] AS VARCHAR)"
    }
    s"""toks AS (
         SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
         FROM $src),
       sh AS (
         SELECT doc_id, ${dkShingles(3)} AS sh FROM toks),
       hs AS (
         SELECT doc_id,
           list_distinct(list_transform(sh,
             x -> CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT))) AS hs
         FROM sh),
       sig AS (
         SELECT doc_id, hs, [${sigExprs.mkString(", ")}] AS sig FROM hs),
       banded AS (
         SELECT doc_id, hs,${if (withSig) " sig," else ""}
           unnest([${bandExprs.mkString(", ")}]) AS band
         FROM sig),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.hs AS hs_a, b.hs AS hs_b${
      if (withSig) ", a.sig AS sig_a, b.sig AS sig_b" else ""}
         FROM banded a JOIN banded b USING (band)
         WHERE a.doc_id < b.doc_id),
       scored AS (
         SELECT id_a, id_b,
           round(CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
             / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))), 6)
             AS jaccard
         FROM cand)"""
  }

  /** The same shingle→sig→band chain with PREFIXED CTE names, reading
    * (doc_id, text) from `src` — lets one oracle band two sides
    * (archive and incoming) without name collisions. Ends in
    * `<p>banded(doc_id, hs, band)`. */
  private def minhashBandChain(p: String, src: String): String = {
    val sigExprs = (0 until 8).map { i =>
      val (a, b) = (graft.ext.TextDedup.minhashA(i),
        graft.ext.TextDedup.minhashB(i))
      s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647))"
    }
    val bandExprs = (0 until 4).map { b =>
      val lo = b * 2
      s"'$b' || ',' || CAST(sig[${lo + 1}] AS VARCHAR) || ',' || " +
        s"CAST(sig[${lo + 2}] AS VARCHAR)"
    }
    s"""${p}toks AS (
         SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) ||
           chr(10) || chr(11) || chr(12) || chr(13)),
           '[ \\t\\n\\x0B\\f\\r]+') AS toks
         FROM $src),
       ${p}sh AS (
         SELECT doc_id, ${dkShingles(3)} AS sh FROM ${p}toks),
       ${p}hs AS (
         SELECT doc_id,
           list_distinct(list_transform(sh,
             x -> CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT))) AS hs
         FROM ${p}sh),
       ${p}sig AS (
         SELECT doc_id, hs, [${sigExprs.mkString(", ")}] AS sig
         FROM ${p}hs),
       ${p}banded AS (
         SELECT doc_id, hs, unnest([${bandExprs.mkString(", ")}]) AS band
         FROM ${p}sig)"""
  }

  /** Incremental NEAR-dedup ([[TextDedup.incrementalLshPairs]]): the
    * even-id half is the archive, present only as its LSH INDEX
    * ((band, id) buckets + hash sets); the incoming batch is the odd
    * half plus near-dup twins of every 10th archive doc (two appended
    * tokens — high-Jaccard, not exact). Each twin must collide with
    * its source through the band index; the archive is never
    * re-shingled. */
  val dedupIncrementalLsh = Q(
    "ext_dedup_incremental_lsh",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val (idxBands, idxHashes) = TextDedup.lshIndex(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"),
            concat(col("text"), lit(" zz extra")).as("text")))
      TextDedup.incrementalLshPairs(incoming, "text", "doc_id",
        idxBands, idxHashes, threshold = 0.5)
    },
    Some(s"""WITH arch_src AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      inc_src AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 600000, text || ' zz extra'
        FROM documents WHERE doc_id % 10 = 0),
      ${minhashBandChain("a_", "arch_src")},
      ${minhashBandChain("i_", "inc_src")},
      cand AS (
        SELECT DISTINCT i.doc_id AS doc_id, a.doc_id AS archive_id,
          i.hs AS hs_i, a.hs AS hs_a
        FROM i_banded i JOIN a_banded a USING (band)),
      scored AS (
        SELECT doc_id, archive_id,
          round(CAST(len(list_intersect(hs_i, hs_a)) AS DOUBLE)
            / (len(hs_i) + len(hs_a) - len(list_intersect(hs_i, hs_a))),
            6) AS jaccard
        FROM cand)
      SELECT doc_id, archive_id, jaccard
      FROM scored WHERE jaccard >= 0.5"""))

  /** GROWING-archive streaming near-dedup
    * ([[graft.streaming.StreamPipeline.dedupLshGrowAvailableNow]]
    * carries the probe-then-append foreachBatch design and the
    * three-wave feed): unlike `q_stream_dedup_lsh`'s frozen index, a
    * doc accepted in micro-batch k is a findable near-dup target for
    * every batch > k. The oracle replays the whole fold in one pass:
    * band archive + all waves together, emit i↔a exactly when
    * wave(i) > wave(a) (archive = wave −1, incoming wave = id mod 3) —
    * equivalent to running the batch incremental probe wave by wave
    * against the grown-so-far index, because banding is stateless and
    * the probe is an equi-join. */
  val dedupLshGrow = Q(
    "q_stream_dedup_lsh_grow",
    (s, d) => graft.streaming.StreamPipeline
      .dedupLshGrowAvailableNow(s, d),
    Some(s"""WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 600000, text || ' zz extra'
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1200001, text || ' qq extra'
        FROM documents WHERE doc_id % 10 = 5),
      ${minhashBandChain("s_", "src")},
      w AS (
        SELECT doc_id, hs, band,
          CASE WHEN doc_id % 2 = 0 AND doc_id < 600000 THEN -1
               ELSE CAST(doc_id % 3 AS INTEGER) END AS wave
        FROM s_banded),
      cand AS (
        SELECT DISTINCT i.doc_id AS doc_id, a.doc_id AS archive_id,
          i.hs AS hs_i, a.hs AS hs_a
        FROM w i JOIN w a USING (band)
        WHERE i.wave > a.wave),
      scored AS (
        SELECT doc_id, archive_id,
          round(CAST(len(list_intersect(hs_i, hs_a)) AS DOUBLE)
            / (len(hs_i) + len(hs_a) - len(list_intersect(hs_i, hs_a))),
            6) AS jaccard
        FROM cand)
      SELECT doc_id, archive_id, jaccard
      FROM scored WHERE jaccard >= 0.5"""))

  /** The CAPSTONE ingest loop registered
    * ([[graft.streaming.StreamPipeline.lshDedupGrowPrunedStart]]):
    * growing archive AND bucket-pruned probes in one operator — each
    * micro-batch probes only its touched buckets of the
    * bucket-partitioned index, then appends its own rows INTO that
    * layout, so later batches find earlier docs while every probe's
    * read volume stays bounded by the batch's key footprint. Output
    * identical to `q_stream_dedup_lsh_grow` (pruning is lossless);
    * oracle shared verbatim. */
  val dedupLshGrowPruned = Q(
    "q_stream_dedup_lsh_grow_pruned",
    (s, d) => graft.streaming.StreamPipeline
      .dedupLshGrowPrunedAvailableNow(s, d),
    dedupLshGrow.oracle)

  /** The capstone's MAINTENANCE path registered
    * ([[graft.ext.ArchiveIndex.compactBucketedDir]] carries
    * the executed-compaction-plan design): the same grow+prune loop
    * with both index dirs compacted after every micro-batch, so each
    * later wave probes an index the earlier wave's compaction fully
    * rewrote (r11 VERDICT #2 — without this pass, per-bucket file
    * counts grow unboundedly over thousands of batches and listing
    * costs erode the measured constant read volume). Oracle = the
    * grow oracle a third time: hash-equality across
    * plain / pruned / compacted is the losslessness proof. */
  val dedupLshGrowCompact = Q(
    "q_stream_dedup_lsh_grow_compact",
    (s, d) => graft.streaming.StreamPipeline
      .dedupLshGrowCompactAvailableNow(s, d),
    dedupLshGrow.oracle)

  val dedupMinhash = Q(
    "ext_dedup_minhash_lsh",
    (s, d) => TextDedup.minhashNearDups(
      Tables.documents(s, d), "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.2),
    Some(s"""WITH $minhashCteBody
       SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.2"""),
    bench = true)

  /** Cross-split near-dup leakage ([[TextDedup.splitLeakage]]): LSH
    * near-dup pairs that straddle the train/val/test hash split —
    * paraphrase leakage into eval. Oracle composes the shared MinHash
    * CTE chain with the `ext_hash_split` bucket rule. */
  val splitLeakage = Q(
    "ext_split_leakage",
    (s, d) => TextDedup.splitLeakage(
      Tables.documents(s, d), "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.2),
    Some(s"""WITH $minhashCteBody,
       pairs AS (SELECT id_a, id_b, jaccard FROM scored
                 WHERE jaccard >= 0.2),
       sp AS (
         SELECT doc_id,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 100 AS b
         FROM documents))
       SELECT p.id_a, p.id_b, p.jaccard,
         a.split AS split_a, b.split AS split_b
       FROM pairs p
       JOIN sp a ON p.id_a = a.doc_id
       JOIN sp b ON p.id_b = b.doc_id
       WHERE a.split <> b.split"""))

  /** Containment (asymmetric Jaccard) over the same LSH candidates —
    * partial-duplication detection. The oracle reuses the shared CTE
    * chain's `cand` stage with the asymmetric denominator. */
  val dedupContainment = Q(
    "ext_dedup_containment",
    (s, d) => TextDedup.minhashContainmentPairs(
      Tables.documents(s, d), "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.3),
    Some(s"""WITH $minhashCteBody,
       cscored AS (
         SELECT id_a, id_b,
           round(CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
             / least(len(hs_a), len(hs_b)), 6) AS containment
         FROM cand)
       SELECT id_a, id_b, containment FROM cscored
       WHERE containment >= 0.3"""))

  /** Edit-distance near-dup ([[TextDedup.editDistancePairs]]): LSH
    * candidates verified with exact Levenshtein. Salt: every 25th doc
    * gains a negative-id copy with char 11 substituted (distance 1) and
    * every 50th additionally a copy with chars 11 and 31 substituted
    * (distance 2) — copy ids are −3·doc_id−{1,2}, injective and outside
    * the non-negative real id space at every scale factor. The verify
    * filter is load-bearing both ways: salted pairs survive, while
    * band-colliding random doc pairs (similar token sets, large char
    * distance) are cut. The oracle states the PLAIN
    * distance-then-filter form — proving the thresholded early-exit DP
    * on the Spark side changes nothing. */
  val dedupEditDistance = Q(
    "ext_dedup_editdistance",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      def sub(at: Int, mark: String,
          from: org.apache.spark.sql.Column) = concat(
        from.substr(lit(1), lit(at - 1)), lit(mark),
        from.substr(lit(at + 1), length(from)))
      val d1 = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") * -3 - 1).as("doc_id"),
          sub(11, "#", col("text")).as("text"))
      val d2 = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") * -3 - 2).as("doc_id"),
          sub(31, "%", sub(11, "#", col("text"))).as("text"))
      TextDedup.editDistancePairs(
        docs.unionByName(d1).unionByName(d2), "text", "doc_id",
        n = 3, k = 8, bands = 4, maxDist = 4)
    },
    Some {
      val subSql = "substring(text,1,10) || '#' || substring(text,12,length(text))"
      val sub2Sql = "substring(t2,1,30) || '%' || substring(t2,32,length(t2))"
      s"""WITH salted AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -3*doc_id - 1, $subSql FROM documents WHERE doc_id % 25 = 0
          UNION ALL
          SELECT -3*doc_id - 2, $sub2Sql FROM (
            SELECT doc_id, $subSql AS t2 FROM documents WHERE doc_id % 50 = 0)),
        ${minhashCteBodyFrom("salted")},
        verified AS (
          SELECT id_a, id_b,
            levenshtein(ta.text, tb.text) AS dist,
            round(1.0 - levenshtein(ta.text, tb.text)
              / CAST(greatest(length(ta.text), length(tb.text)) AS DOUBLE), 6)
              AS edit_sim
          FROM cand
          JOIN salted ta ON cand.id_a = ta.doc_id
          JOIN salted tb ON cand.id_b = tb.doc_id)
        SELECT id_a, id_b, dist, edit_sim FROM verified WHERE dist <= 4"""
    })

  /** PageRank ([[graft.ext.Graph.pageRank]]) over a deterministically
    * salted link graph: every doc links to 3 md5-derived targets (mod
    * the corpus size — doc_ids are dense by driver construction), docs
    * with id % 10 == 7 have NO outlinks so the dangling-mass
    * redistribution term is load-bearing, self-loops excluded. The
    * oracle unrolls all 5 iterations as chained CTEs with the identical
    * decimal-sum / double-op shape; constants are interpolated from the
    * same Scala doubles wrapped in CAST(.. AS DOUBLE) (a bare long
    * decimal literal stays DECIMAL in DuckDB and would diverge from
    * IEEE arithmetic). */
  val pagerank = Q(
    "ext_pagerank",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      def h(j: Int) = conv(substring(md5(concat(
        lit("edge:"), col("doc_id").cast("string"), lit(s":$j"))), 1, 8),
        16, 10).cast("long") % n
      val edges = (1 to 3).map { j =>
        docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("src"), h(j).as("dst"))
      }.reduce(_.unionByName(_))
        .filter(col("dst") =!= col("src"))
        .distinct()
      graft.ext.Graph.pageRank(
        docs.select(col("doc_id").as("node")), edges,
        iters = 5, damping = 0.85)
        .select(col("node"), round(col("rank"), 12).as("rank"))
    },
    Some {
      val damping = 0.85
      def dbl(v: Double) = s"CAST($v AS DOUBLE)"
      val cnt = "(SELECT cnt FROM nn)"
      val iters = (1 to 5).map { i =>
        val prev = s"r${i - 1}"
        s"""d$i AS (
            SELECT CAST(coalesce(sum(CAST(rank AS DECIMAL(38,18))), 0)
              AS DOUBLE) AS dang
            FROM $prev WHERE node NOT IN (SELECT src FROM outdeg)),
          c$i AS (
            SELECT e.dst AS node,
              CAST(sum(CAST(r.rank / o.outdeg AS DECIMAL(38,18)))
                AS DOUBLE) AS inflow
            FROM $prev r
            JOIN edges e ON r.node = e.src
            JOIN outdeg o ON e.src = o.src
            GROUP BY 1),
          r$i AS (
            SELECT n.node,
              ${dbl(1 - damping)} / $cnt + ${dbl(damping)}
                * (coalesce(c.inflow, ${dbl(0.0)}) + d.dang / $cnt) AS rank
            FROM nodes n
            LEFT JOIN c$i c ON n.node = c.node
            CROSS JOIN d$i d)"""
      }.mkString(",\n        ")
      s"""WITH nodes AS (SELECT doc_id AS node FROM documents),
        nn AS (SELECT count(*) AS cnt FROM nodes),
        eraw AS (
          SELECT doc_id AS src,
            ('0x' || substring(md5('edge:' || CAST(doc_id AS VARCHAR)
              || ':' || j), 1, 8))::BIGINT % $cnt AS dst
          FROM documents, (SELECT unnest([1, 2, 3]) AS j)
          WHERE doc_id % 10 != 7),
        edges AS (SELECT DISTINCT src, dst FROM eraw WHERE dst != src),
        outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        r0 AS (SELECT node, ${dbl(1.0)} / $cnt AS rank FROM nodes),
        $iters
        SELECT node, round(rank, 12) AS rank FROM r5"""
    })

  /** HITS hubs & authorities ([[graft.ext.Graph.hits]]) on a second
    * salted graph (2 outlinks per doc, docs with id % 7 == 3 are pure
    * authorities — no outlinks). L1 normalization keeps every
    * normalizer an exact decimal sum (no per-iteration sqrt to pin);
    * the oracle unrolls 3 iterations = 6 half-steps, each a raw-sum
    * CTE + a 1-row total CTE + a normalize CTE with the guard shape
    * matching the Spark `when`. */
  val hitsQ = Q(
    "ext_hits",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      def h(j: Int) = conv(substring(md5(concat(
        lit("hedge:"), col("doc_id").cast("string"), lit(s":$j"))), 1, 8),
        16, 10).cast("long") % n
      val edges = (1 to 2).map { j =>
        docs.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id").as("src"), h(j).as("dst"))
      }.reduce(_.unionByName(_))
        .filter(col("dst") =!= col("src"))
        .distinct()
      graft.ext.Graph.hits(
        docs.select(col("doc_id").as("node")), edges, iters = 3)
        .select(col("node"), round(col("hub"), 12).as("hub"),
          round(col("auth"), 12).as("auth"))
    },
    Some {
      val cnt = "(SELECT cnt FROM nn)"
      // one L1-normalized half-step: raw sums of `fromCol` pulled across
      // edges (joinSide = src pulls hub mass forward onto dst; dst pulls
      // auth mass back onto src), then total, then guarded divide
      def half(out: String, i: Int, from: String, fromCol: String,
          joinSide: String, groupSide: String) =
        s"""${out}r$i AS (
            SELECT e.$groupSide AS node,
              CAST(sum(CAST(p.$fromCol AS DECIMAL(38,18))) AS DOUBLE) AS v
            FROM $from p JOIN edges e ON p.node = e.$joinSide
            GROUP BY 1),
          ${out}t$i AS (
            SELECT CAST(coalesce(sum(CAST(coalesce(r.v, 0.0)
              AS DECIMAL(38,18))), 0) AS DOUBLE) AS tot
            FROM nodes n LEFT JOIN ${out}r$i r ON n.node = r.node),
          $out$i AS (
            SELECT n.node,
              CASE WHEN t.tot != 0 THEN coalesce(r.v, 0.0) / t.tot
                ELSE 0.0 END AS ${if (out == "a") "auth" else "hub"}
            FROM nodes n
            LEFT JOIN ${out}r$i r ON n.node = r.node
            CROSS JOIN ${out}t$i t)"""
      val iters = (1 to 3).map { i =>
        half("a", i, s"h${i - 1}", "hub", "src", "dst") + ",\n          " +
          half("h", i, s"a$i", "auth", "dst", "src")
      }.mkString(",\n        ")
      s"""WITH nodes AS (SELECT doc_id AS node FROM documents),
        nn AS (SELECT count(*) AS cnt FROM nodes),
        eraw AS (
          SELECT doc_id AS src,
            ('0x' || substring(md5('hedge:' || CAST(doc_id AS VARCHAR)
              || ':' || j), 1, 8))::BIGINT % $cnt AS dst
          FROM documents, (SELECT unnest([1, 2]) AS j)
          WHERE doc_id % 7 != 3),
        edges AS (SELECT DISTINCT src, dst FROM eraw WHERE dst != src),
        h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
        $iters
        SELECT h.node, round(h.hub, 12) AS hub, round(a.auth, 12) AS auth
        FROM h3 h JOIN a3 a ON h.node = a.node"""
    })

  /** Per-node triangle counts + local clustering coefficient
    * ([[graft.ext.Graph.triangles]], degree-ordered wedge closure) on a
    * third salted graph: a 2-neighbor ring (every doc links its next
    * two ids mod N — guaranteeing one triangle per consecutive id
    * triple, so the coefficient column is exercised at every node)
    * plus one md5-hashed random link per doc (closing extra triangles
    * unpredictably). The oracle enumerates triangles exactly via the
    * canonical a<b<c three-way self-join — correctness does not depend
    * on the Spark side's degree orientation, which is pure plan
    * optimization (O(m^1.5) wedge bound). */
  val trianglesQ = Q(
    "ext_graph_triangles",
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
      graft.ext.Graph.triangles(
        ring.unionByName(rand).filter(col("src") =!= col("dst")))
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
        und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM eraw WHERE src != dst),
        deg AS (
          SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          GROUP BY 1),
        tri AS (
          SELECT xy.a AS x, xy.b AS y, yz.b AS z
          FROM und xy JOIN und yz ON xy.b = yz.a
          JOIN und xz ON xz.a = xy.a AND xz.b = yz.b),
        corners AS (
          SELECT node, count(*) AS n_triangles FROM (
            SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
          GROUP BY 1)
      SELECT d.node, d.degree,
        CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
        CASE WHEN d.degree >= 2 THEN
          round(CAST(2.0 AS DOUBLE) * coalesce(c.n_triangles, 0)
            / (d.degree * (d.degree - 1)), 6)
        END AS clustering
      FROM deg d LEFT JOIN corners c ON d.node = c.node"""
    })

  /** Label-propagation communities ([[graft.ext.Graph.labelPropagation]],
    * 4 synchronous min-tie-break rounds) on the SAME ring+random graph
    * as `ext_graph_triangles` — the ring keeps every node in one
    * connected sea, so what the rounds actually measure is how far
    * min-id labels flood through local structure in 4 hops; the
    * random chords make the flood pattern non-trivial. The oracle
    * unrolls the 4 rounds as chained CTEs (each label frame is
    * referenced twice per round → MATERIALIZED, the PageRank-oracle
    * lesson), with the per-node argmax spelled as mode-with-min-
    * tie-break. */
  val labelPropQ = Q(
    "ext_label_propagation",
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
      graft.ext.Graph.labelPropagation(
        docs.select(col("doc_id").as("node")),
        ring.unionByName(rand).filter(col("src") =!= col("dst")),
        iters = 4)
    },
    Some {
      val cnt = "(SELECT cnt FROM nn)"
      val rounds = (1 to 4).map { i =>
        val prev = s"l${i - 1}"
        s"""nbr$i AS (
            SELECT e.dst AS node, l.label, count(*) AS cnt
            FROM $prev l JOIN und e ON l.node = e.src GROUP BY 1, 2),
          sel$i AS (
            SELECT node, min(label) AS label FROM (
              SELECT node, label, cnt,
                max(cnt) OVER (PARTITION BY node) AS mx
              FROM nbr$i)
            WHERE cnt = mx GROUP BY node),
          l$i AS MATERIALIZED (
            SELECT p.node, coalesce(s.label, p.label) AS label
            FROM $prev p LEFT JOIN sel$i s ON p.node = s.node)"""
      }.mkString(",\n        ")
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
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM eraw
            UNION ALL
            SELECT dst AS src, src AS dst FROM eraw)
          WHERE src != dst),
        l0 AS MATERIALIZED (
          SELECT doc_id AS node, doc_id AS label FROM documents),
        $rounds
      SELECT node, label AS community FROM l4"""
    })

  /** 5-core extraction ([[graft.ext.Graph.kCore]], 6 peel rounds) on a
    * TWO-TIER salted graph: a global 1-neighbor chain (degree ~2
    * periphery) plus 4 md5-hashed links per low-id doc landing inside
    * the 100-node dense block. The chain peels in round 1; the loss of
    * chain edges cascades a few more rounds through the block boundary
    * before the dense community stabilizes — exactly the peel-depth
    * behavior the round count exists for (DuckDB replay confirms
    * convergence: min induced degree 5 ≥ k after 6 rounds). Oracle
    * unrolls the rounds as chained CTEs (edge frame referenced three
    * times per round → MATERIALIZED). */
  val kcoreQ = Q(
    "ext_kcore",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val chain = docs.select(col("doc_id").as("src"),
        ((col("doc_id") + 1) % n).as("dst"))
      val dense = (1 to 4).map { j =>
        docs.filter(col("doc_id") < 100)
          .select(col("doc_id").as("src"),
            (conv(substring(md5(concat(
              lit("kedge:"), col("doc_id").cast("string"), lit(s":$j"))),
              1, 8), 16, 10).cast("long") % 100).as("dst"))
      }.reduce(_.unionByName(_))
      graft.ext.Graph.kCore(chain.unionByName(dense), k = 5, iters = 6)
    },
    Some {
      val cnt = "(SELECT cnt FROM nn)"
      val rounds = (1 to 6).map { i =>
        val p = s"e${i - 1}"
        s"""b$i AS MATERIALIZED (
            SELECT src AS node FROM (
              SELECT src, count(*) AS deg FROM $p GROUP BY 1)
            WHERE deg < 5),
          e$i AS MATERIALIZED (
            SELECT src, dst FROM $p
            WHERE src NOT IN (SELECT node FROM b$i)
              AND dst NOT IN (SELECT node FROM b$i))"""
      }.mkString(",\n        ")
      s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
        eraw AS (
          SELECT doc_id AS src, (doc_id + 1) % $cnt AS dst
          FROM documents
          UNION ALL
          SELECT doc_id AS src,
            ('0x' || substring(md5('kedge:' || CAST(doc_id AS VARCHAR)
              || ':' || j), 1, 8))::BIGINT % 100 AS dst
          FROM documents, (SELECT unnest([1, 2, 3, 4]) AS j)
          WHERE doc_id < 100),
        e0 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM eraw
            UNION ALL SELECT dst AS src, src AS dst FROM eraw)
          WHERE src != dst),
        $rounds
      SELECT src AS node, count(*) AS degree FROM e6 GROUP BY 1"""
    })

  /** Jaccard threshold-sweep curve over ALL MinHash candidate pairs
    * (threshold 0 keeps every banded collision): pairs per 0.1-wide
    * similarity bucket plus the cumulative pairs-at-or-above count —
    * the tuning table for picking a dedup threshold (how many pairs
    * does 0.8 vs 0.7 merge?). The cumulative window runs over the ≤ 11
    * bucket rows, never over pairs. floor(jaccard·10) on the identical
    * 6-dp doubles buckets identically in both engines. */
  val thresholdSweep = Q(
    "ext_dedup_threshold_sweep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = TextDedup.minhashNearDups(Tables.documents(s, d),
        "text", "doc_id", n = 3, k = 8, bands = 4, threshold = 0.0)
      val buckets = pairs
        .groupBy(floor(col("jaccard") * 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets.select(col("bucket"), col("n_pairs"),
        sum(col("n_pairs")).over(w).as("pairs_at_or_above"))
    },
    Some(s"""WITH $minhashCteBody,
        b AS (
          SELECT CAST(floor(jaccard * 10) AS INT) AS bucket,
            count(*) AS n_pairs
          FROM scored GROUP BY 1)
      SELECT bucket, n_pairs,
        CAST(sum(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
          AS pairs_at_or_above
      FROM b"""))

  /** MinHash ESTIMATOR-ERROR eval
    * ([[TextDedup.minhashEstimatorErrors]] carries the cheap-probe/
    * exact-verify rationale): per exact-Jaccard decile over all LSH
    * candidate pairs, the error of the k=8 signature-agreement estimate
    * against the exact hash-set Jaccard — bucket row count, mean |err|,
    * mean signed bias, max |err|. The `ext_sketch_quantile_error`
    * contract one approximation earlier: both sides deterministic, so
    * the error table itself is hash-gated. Means ride the exact
    * DECIMAL(38,12) sum (Det.dsumWide) — 6-dp inputs, engine-identical
    * doubles out. */
  val minhashErrEval = Q(
    "ext_minhash_error_eval",
    (s, d) => {
      val pairs = TextDedup.minhashEstimatorErrors(
        Tables.documents(s, d), "text", "doc_id", n = 3, k = 8, bands = 4)
      pairs
        .groupBy(floor(col("exact_jaccard") * 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(Det.dsumWide(col("abs_err")) / count(lit(1)), 6)
            .as("mean_abs_err"),
          round(Det.dsumWide(col("signed_err")) / count(lit(1)), 6)
            .as("mean_bias"),
          max(col("abs_err")).as("max_abs_err"))
    },
    Some(s"""WITH ${minhashCteBodyFrom("documents", withSig = true)},
      p AS (
        SELECT id_a, id_b,
          round(CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
            / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))),
            6) AS exact_jaccard,
          round(list_sum(list_transform([1, 2, 3, 4, 5, 6, 7, 8],
            i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
            / 8.0, 6) AS est_jaccard
        FROM cand),
      e AS (
        SELECT CAST(floor(exact_jaccard * 10) AS INT) AS bucket,
          round(est_jaccard - exact_jaccard, 6) AS signed_err,
          round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
        FROM p)
      SELECT bucket, count(*) AS n_pairs,
        round(${Det.dsumWideSql("abs_err")} / count(*), 6)
          AS mean_abs_err,
        round(${Det.dsumWideSql("signed_err")} / count(*), 6)
          AS mean_bias,
        max(abs_err) AS max_abs_err
      FROM e GROUP BY 1"""))

  // ---- end-to-end corpus build ---------------------------------------------
  // Shared salted input: exact copies of every 7th doc (stage-1 fodder)
  // and near-copies of every doc_id % 10 = 3 (stage-3 fodder), so all
  // three gates of the build provably remove rows. One definition for
  // both the manifest and funnel oracles.

  private val corpusBuildSaltSql =
    """salted AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 700000, text, source FROM documents
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 800000, text || ' zz extra', source
        FROM documents WHERE doc_id % 10 = 3)"""

  /** The shared cleaning-chain CTE prefix: salted → exact dedup →
    * quality ≥ 0.72 → LSH keep-first. Ends in `s3` (the cleaned
    * corpus). */
  private def corpusBuildChainSql =
    s"""$corpusBuildSaltSql,
      reps AS (
        SELECT min(doc_id) AS doc_id FROM salted GROUP BY ${fpSql()}),
      s1 AS (
        SELECT s.* FROM salted s JOIN reps r ON s.doc_id = r.doc_id),
      cq AS (
        SELECT doc_id, text, source, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM s1),
      s2 AS (
        SELECT doc_id, text, source FROM cq
        WHERE ${qualityCompositeSql("tc", "sr", "pr", "dr")} >= 0.72),
      ${minhashCteBodyFrom("s2")},
      drops AS (
        SELECT DISTINCT id_b FROM scored WHERE jaccard >= 0.5),
      s3 AS (
        SELECT * FROM s2 WHERE NOT EXISTS (
          SELECT 1 FROM drops WHERE drops.id_b = s2.doc_id))"""

  private def corpusBuildInput(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "source")
    docs
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"), col("text"),
          col("source")))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 800000L).as("doc_id"),
          concat(col("text"), lit(" zz extra")).as("text"), col("source")))
      // NOTE(r14 opt): a repartition spread here regressed the warm
      // bench 1.34× (same finding as llm_corpus_pipeline_e2e) —
      // reverted, see OPTIMIZATION_r14.md change 4.
  }

  /** END-TO-END CORPUS BUILD ([[graft.ext.Curation.corpusBuild]] carries
    * the three-gate design and the stage-caching rationale): the full
    * ingest chain — exact dedup → quality gate → near-dedup — composed
    * in ONE call over a salted corpus where every gate provably drops
    * rows, finished with the 8-shard manifest of the cleaned corpus
    * (the artifact a training job starts from). The flagship
    * composition query: a user of the engine runs the whole build, not
    * its stages. */
  val corpusBuildE2e = Q(
    "ext_corpus_build_e2e",
    (s, d) => {
      val (cleaned, _) = Curation.corpusBuild(
        corpusBuildInput(s, d), "text", "doc_id", minQuality = 0.72)
      Curation.shardManifest(cleaned, "doc_id", "text", nShards = 8)
    },
    Some(s"""WITH $corpusBuildChainSql,
      t AS (
        SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 8 AS shard_id,
          len(string_split_regex(${wsTrimSql("text")}, '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok,
          length(text) AS n_ch
        FROM s3)
      SELECT shard_id, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        CAST(sum(n_ch) AS BIGINT) AS n_chars
      FROM t GROUP BY 1"""),
    bench = true)

  /** The corpus build's FUNNEL receipt: docs and tokens surviving each
    * stage (raw → exact_dedup → quality_gate → near_dedup) — the 4-row
    * accounting table a production run logs next to the shard manifest.
    * Oracle replays every stage count from the shared chain CTEs. */
  val corpusBuildFunnel = Q(
    "ext_corpus_build_funnel",
    (s, d) => Curation.corpusBuild(
      corpusBuildInput(s, d), "text", "doc_id", minQuality = 0.72)._2,
    Some(s"""WITH $corpusBuildChainSql
      ${funnelStageSql(0, "raw", "salted")}
      UNION ALL ${funnelStageSql(1, "exact_dedup", "s1")}
      UNION ALL ${funnelStageSql(2, "quality_gate", "s2")}
      UNION ALL ${funnelStageSql(3, "near_dedup", "s3")}"""))

  /** INCREMENTAL corpus build
    * ([[graft.ext.Curation.corpusBuildIncremental]] carries the
    * archive-as-indexes posture and stage design): day-2 ingest — the
    * even-id half of the corpus plays the archived day-1 build
    * (present only as its fingerprint + LSH indexes), the odd half
    * plus four salt families play the incoming batch, exercising every
    * drop path: exact-vs-archive (copies of archived docs),
    * exact-within-batch (copies of incoming docs), near-dup-vs-archive
    * (' zz extra' variants of archived docs), near-dup-within-batch
    * (' qq extra' variants of incoming docs), plus the quality gate.
    * Output is the cleaned batch's (doc_id, source) rows — the
    * row-level gate. Oracle replays all three stages from the shared
    * fingerprint / band-chain fragments. */
  /** The day-2 incoming feed shared by the batch incremental build, its
    * streaming DQ monitor, and their oracles: odd-id novels plus four
    * salt families (exact/near copies of archived and incoming docs).
    * ONE definition each side — a drifted copy would silently test a
    * different feed. */
  private[graft] def corpusIncrementalIncoming(docs: DataFrame)
      : DataFrame =
    docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"), col("text"),
          col("source")))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"),
          col("source")))
      .unionByName(docs.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 800000L).as("doc_id"),
          concat(col("text"), lit(" zz extra")).as("text"),
          col("source")))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 1200001L).as("doc_id"),
          concat(col("text"), lit(" qq extra")).as("text"),
          col("source")))

  private[graft] val corpusIncrementalFeedSql: String =
    """inc AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 600000, text, source FROM documents
        WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 900000, text, source FROM documents
        WHERE doc_id % 10 = 7
        UNION ALL
        SELECT doc_id + 800000, text || ' zz extra', source
        FROM documents WHERE doc_id % 10 = 2
        UNION ALL
        SELECT doc_id + 1200001, text || ' qq extra', source
        FROM documents WHERE doc_id % 10 = 5)"""

  /** The shared incremental-chain CTE prefix (archive + salted feed →
    * archive-fp exact gate → quality ≥ 0.72 → within-batch UNION
    * cross-archive near-dedup), ending in `s3(doc_id, text, source)` —
    * ONE definition for the row-level query and its funnel (a drifted
    * copy would silently verify a different pipeline). */
  /** The incremental-chain fragment with PREFIXED CTE names — archive
    * `archSrc`(doc_id, text, source) + incoming `incSrc` → exact gate →
    * quality ≥ 0.72 → within-batch ∪ cross-archive near-dedup, ending
    * in `${p}s3(doc_id, text, source)`. ONE definition generates the
    * day-2 chain (p = "") AND the day-3 replay (p = "d3", archive =
    * arch ∪ day-2 survivors) — the prefix discipline of
    * [[minhashBandChain]] lifted to the whole chain, so the committed-
    * archive oracle can run the pipeline twice without CTE collisions
    * or a drifted copy. `${p}s2`/`${p}s3` are MATERIALIZED: day-3's
    * sources reference s3 three times and DuckDB inlines CTEs per
    * reference. */
  private def corpusIncrChainSqlG(p: String, archSrc: String,
      incSrc: String): String = {
    val jac = (x: String, y: String) =>
      s"""round(CAST(len(list_intersect($x, $y)) AS DOUBLE)
        / (len($x) + len($y) - len(list_intersect($x, $y))), 6)"""
    s"""${p}afp AS (SELECT DISTINCT ${fpSql()} AS fp FROM $archSrc),
      ${p}ifp AS (
        SELECT doc_id, text, source, ${fpSql()} AS fp FROM $incSrc),
      ${p}keepers AS (
        SELECT fp, min(doc_id) AS keep FROM ${p}ifp GROUP BY 1),
      ${p}s1 AS (
        SELECT i.doc_id, i.text, i.source FROM ${p}ifp i
        JOIN ${p}keepers k ON i.doc_id = k.keep
        WHERE NOT EXISTS (SELECT 1 FROM ${p}afp a WHERE a.fp = i.fp)),
      ${p}cq2 AS (
        SELECT doc_id, text, source, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM ${p}s1),
      ${p}s2 AS MATERIALIZED (
        SELECT doc_id, text, source FROM ${p}cq2
        WHERE ${qualityCompositeSql("tc", "sr", "pr", "dr")} >= 0.72),
      ${minhashBandChain(p + "a_", archSrc)},
      ${minhashBandChain(p + "i_", p + "s2")},
      ${p}wc AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          a.hs AS ha, b.hs AS hb
        FROM ${p}i_banded a JOIN ${p}i_banded b USING (band)
        WHERE a.doc_id < b.doc_id),
      ${p}wdrop AS (
        SELECT DISTINCT id_b AS doc_id FROM ${p}wc
        WHERE ${jac("ha", "hb")} >= 0.5),
      ${p}xc AS (
        SELECT DISTINCT i.doc_id AS doc_id, i.hs AS hi, a.hs AS ha
        FROM ${p}i_banded i JOIN ${p}a_banded a USING (band)),
      ${p}xdrop AS (
        SELECT DISTINCT doc_id FROM ${p}xc
        WHERE ${jac("hi", "ha")} >= 0.5),
      ${p}s3 AS MATERIALIZED (
        SELECT s2.doc_id, s2.text, s2.source FROM ${p}s2 s2
        WHERE NOT EXISTS (SELECT 1 FROM ${p}wdrop w
            WHERE w.doc_id = s2.doc_id)
          AND NOT EXISTS (SELECT 1 FROM ${p}xdrop x
            WHERE x.doc_id = s2.doc_id))"""
  }

  private def corpusIncrChainSql: String =
    s"""arch AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 0),
      $corpusIncrementalFeedSql,
      ${corpusIncrChainSqlG("", "arch", "inc")}"""

  /** One funnel stage row (shared by both corpus-build funnels). */
  private def funnelStageSql(ord: Int, name: String, src: String) =
    s"""SELECT $ord AS stage_ord, '$name' AS stage,
      count(*) AS n_docs,
      CAST(coalesce(sum(len(string_split_regex(${wsTrimSql("text")},
        '[ \\t\\n\\x0B\\f\\r]+'))), 0) AS BIGINT) AS n_tokens
      FROM $src"""

  /** Shared adapter body for the two incremental-build queries: the
    * archive round-trips through the UNIFIED on-disk artifact
    * ([[graft.ext.ArchiveIndex]] — the same fp/ib/ih tables the
    * streaming capstone grows and the corpus-DQ monitor reads), so the
    * registered queries exercise the format batch↔stream
    * interchangeability rests on, not session-frame conventions. The
    * artifact lives in a [[Scratch]] tree, deleted before returning. */
  private def corpusIncrOnDisk(s: org.apache.spark.sql.SparkSession,
      d: String, pick: ((DataFrame, DataFrame)) => DataFrame)
      : DataFrame = {
    import graft.ext.ArchiveIndex
    val docs = Tables.documents(s, d).select("doc_id", "text", "source")
    Scratch("graft-corpusincr") { base =>
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets = 32, base)
      pick(Curation.corpusBuildIncremental(
        corpusIncrementalIncoming(docs), "text", "doc_id",
        ArchiveIndex.readFp(s, base).select("fp", "representative_id"),
        ArchiveIndex.readBands(s, base),
        ArchiveIndex.readHashes(s, base),
        minQuality = 0.72))
    }
  }

  val corpusBuildIncr = Q(
    "ext_corpus_build_incremental",
    (s, d) => corpusIncrOnDisk(s, d,
      { case (cleaned, _) => cleaned.select("doc_id", "source") }),
    Some(s"""WITH $corpusIncrChainSql
      SELECT doc_id, source FROM s3"""))

  /** The incremental build's FUNNEL receipt — same 4-row schema as the
    * batch build's, so day-1 and day-N rows read uniformly in a run
    * log. Oracle replays each stage count from the shared chain
    * fragments (the near-dedup stage subtracts the union of
    * within-batch and cross-archive drops). */
  val corpusBuildIncrFunnel = Q(
    "ext_corpus_build_incremental_funnel",
    (s, d) => corpusIncrOnDisk(s, d, { case (_, funnel) => funnel }),
    Some(s"""WITH $corpusIncrChainSql
      ${funnelStageSql(0, "raw", "inc")}
      UNION ALL ${funnelStageSql(1, "exact_dedup", "s1")}
      UNION ALL ${funnelStageSql(2, "quality_gate", "s2")}
      UNION ALL ${funnelStageSql(3, "near_dedup", "s3")}"""))

  /** The day-3 feed derived from the DAY-2 SURVIVORS — every family
    * only a COMMITTED archive can adjudicate: exact copies of day-2
    * survivors (+3000000 — drop iff the commit landed their fps),
    * near-dup twins of day-2 survivors (+4000000, ' zz extra' — drop
    * iff the commit landed their bands), plus genuinely novel docs
    * (+2000000): token-REVERSED texts — same vocabulary, so the
    * quality gate scores them like their sources, but 3-gram shingle
    * sets are disjoint from every archived doc, so they SURVIVE
    * (rows > 0 keeps the gate strong: a first draft used
    * suffix-salted "novels", and every one was correctly caught as a
    * near-dup of its own day-2-committed source — commit visibility
    * proven by an empty result, which is the weak form). ONE
    * definition; the oracle mirrors it from its replayed `s3`. */
  private[graft] def day3Feed(cleaned2: DataFrame, docs: DataFrame): DataFrame =
    cleaned2.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
        col("source"))
      .unionByName(cleaned2.filter(col("doc_id") % 4 === 3)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(col("text"), lit(" zz extra")).as("text"),
          col("source")))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(reverse(split(
            graft.ops.ScalarFns.strip(col("text")),
            "[ \\t\\n\\x0B\\f\\r]+")), " ").as("text"),
          col("source")))

  /** The day-N archive loop CLOSED in batch
    * ([[graft.ext.Curation.corpusBuildIncrementalCommit]] carries the
    * clean→append→compact design): day-2 cleans against the
    * batch-written [[graft.ext.ArchiveIndex]] artifact and COMMITS its
    * survivors' index rows back into it; day-3 then cleans a feed
    * built from day-2's survivors — exact copies, near-dup twins, and
    * novels — against the updated artifact. Every commit-dependent
    * drop (a day-3 doc falling to a day-2 fp or band) exists ONLY if
    * the append+compact cycle is lossless and visible, so the hash
    * gate proves the full two-day fold, not one read-only pass. The
    * oracle runs the SAME prefixed chain twice (day-2 with the shared
    * fragments verbatim, day-3 against arch ∪ s3). */
  /** Shared adapter body for the two day-3 queries: day-2 commit into
    * the artifact, then the day-3 read-only build; `pick` chooses the
    * cleaned rows or the funnel receipt. */
  private def day3OnDisk(s: org.apache.spark.sql.SparkSession, d: String,
      pick: ((DataFrame, DataFrame)) => DataFrame): DataFrame = {
    import graft.ext.{ArchiveIndex, Curation}
    val docs = Tables.documents(s, d).select("doc_id", "text", "source")
    Scratch("graft-day3") { base =>
      ArchiveIndex.write(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", nBuckets = 32, base)
      val (cleaned2, _) = Curation.corpusBuildIncrementalCommit(
        corpusIncrementalIncoming(docs), "text", "doc_id",
        base, minQuality = 0.72)
      pick(Curation.corpusBuildIncremental(
        day3Feed(cleaned2, docs), "text", "doc_id",
        ArchiveIndex.readFp(s, base).select("fp", "representative_id"),
        ArchiveIndex.readBands(s, base),
        ArchiveIndex.readHashes(s, base),
        minQuality = 0.72))
    }
  }

  /** The day-3 oracle prelude shared by the row-level query and its
    * funnel: day-2 chain verbatim, committed archive = arch ∪ s3,
    * day-3 feed from s3 + reversed novels, day-3 chain prefixed d3. */
  private def day3OracleChain: String =
    s"""arch AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 0),
      $corpusIncrementalFeedSql,
      ${corpusIncrChainSqlG("", "arch", "inc")},
      arch3 AS (
        SELECT doc_id, text, source FROM arch
        UNION ALL SELECT doc_id, text, source FROM s3),
      inc3 AS (
        SELECT doc_id + 3000000 AS doc_id, text, source FROM s3
        WHERE doc_id % 4 = 1
        UNION ALL
        SELECT doc_id + 4000000, text || ' zz extra', source FROM s3
        WHERE doc_id % 4 = 3
        UNION ALL
        SELECT doc_id + 2000000,
          array_to_string(list_reverse(string_split_regex(
            ${wsTrimSql("text")}, '[ \\t\\n\\x0B\\f\\r]+')), ' '),
          source
        FROM documents WHERE doc_id % 10 = 3),
      ${corpusIncrChainSqlG("d3", "arch3", "inc3")}"""

  val corpusBuildDay3 = Q(
    "ext_corpus_build_day3",
    (s, d) => day3OnDisk(s, d,
      { case (cleaned, _) => cleaned.select("doc_id", "source") }),
    Some(s"""WITH $day3OracleChain
      SELECT doc_id, source FROM d3s3"""))

  /** STREAMING twin of the day-N commit loop
    * ([[graft.streaming.StreamPipeline.corpusCommitStart]], r12
    * VERDICT #5): the day-2 and day-3 feeds arrive as two mtime-ordered
    * wave files, each micro-batch cleans against the artifact and
    * COMMITS its survivors' fp/band/hash rows into ALL THREE tables
    * (where the grow capstone maintains the LSH pair only), and the
    * registered result is the day-3 wave's survivors — the day-3
    * oracle shared VERBATIM, so hash-equality proves the streamed
    * per-wave commit+compact fold equals the batch two-day fold. */
  val streamCorpusCommit = Q(
    "q_stream_corpus_commit",
    (s, d) => graft.streaming.StreamPipeline
      .corpusCommitAvailableNow(s, d),
    Some(s"""WITH $day3OracleChain
      SELECT doc_id, source FROM d3s3"""))

  /** The day-3 build's FUNNEL receipt — the same 4-row schema as the
    * day-1 full build and the day-2 incremental, so day-1/day-2/day-3
    * rows read uniformly in a run log; the day-3 exact_dedup and
    * near_dedup stage counts are commit-dependent (they drop the
    * copies/twins of day-2 survivors), so the receipt doubles as the
    * commit's observability surface. */
  val corpusBuildDay3Funnel = Q(
    "ext_corpus_build_day3_funnel",
    (s, d) => day3OnDisk(s, d, { case (_, funnel) => funnel }),
    Some(s"""WITH $day3OracleChain
      ${funnelStageSql(0, "raw", "inc3")}
      UNION ALL ${funnelStageSql(1, "exact_dedup", "d3s1")}
      UNION ALL ${funnelStageSql(2, "quality_gate", "d3s2")}
      UNION ALL ${funnelStageSql(3, "near_dedup", "d3s3")}"""))

  /** Streaming CORPUS-INGEST DQ monitor
    * ([[graft.streaming.StreamPipeline.corpusDqAvailableNow]] carries
    * the stream-static/one-counter-row design): the day-2 feed's
    * landing-zone receipt — exact-dup-vs-archive (fingerprint index
    * join made row-local), below-quality, too-short — the cheap gate
    * an operator watches before the near-dedup stages spend anything.
    * Oracle: one CASE-sum scan over the SAME feed (shared CTE) joined
    * to the archive fingerprint set. */
  val corpusDqStream = Q(
    "q_stream_corpus_dq",
    (s, d) => graft.streaming.StreamPipeline.corpusDqAvailableNow(s, d),
    Some(s"""WITH arch AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 0),
      $corpusIncrementalFeedSql,
      afp AS (SELECT DISTINCT ${fpSql()} AS fp FROM arch),
      ifp2 AS (
        SELECT doc_id, text, ${fpSql()} AS fp FROM inc),
      j2 AS (
        SELECT i.doc_id, i.text, (a.fp IS NOT NULL) AS isdup
        FROM ifp2 i LEFT JOIN afp a ON i.fp = a.fp),
      cq3 AS (
        SELECT doc_id, isdup, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM j2),
      w AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS v0,
          CAST(sum(CASE WHEN
            ${qualityCompositeSql("tc", "sr", "pr", "dr")} < 0.72
            THEN 1 ELSE 0 END) AS BIGINT) AS v1,
          CAST(sum(CASE WHEN tc < 17 THEN 1 ELSE 0 END) AS BIGINT) AS v2
        FROM cq3)
      SELECT 'doc_exact_dup_vs_archive' AS rule, n AS n_checked,
        v0 AS n_violations,
        round(v0 / CAST(n AS DOUBLE), 9) AS violation_rate FROM w
      UNION ALL SELECT 'doc_below_quality', n, v1,
        round(v1 / CAST(n AS DOUBLE), 9) FROM w
      UNION ALL SELECT 'doc_too_short', n, v2,
        round(v2 / CAST(n AS DOUBLE), 9) FROM w"""))

  /** Shard manifest ([[graft.ext.Curation.shardManifest]]): stable
    * id-hash shard assignment + per-shard volume stats — the job-start
    * planning table. */
  val shardManifest = Q(
    "ext_shard_manifest",
    (s, d) => graft.ext.Curation.shardManifest(
      Tables.documents(s, d), "doc_id", "text", nShards = 8),
    Some("""WITH t AS (
        SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 8 AS shard_id,
          len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS n_tok,
          length(text) AS n_ch
        FROM documents)
      SELECT shard_id, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        CAST(sum(n_ch) AS BIGINT) AS n_chars
      FROM t GROUP BY 1"""))

  /** Compaction plan ([[graft.ext.Curation.compactionPlan]]) over the
    * 64-shard manifest at a 40 kB target: offset packing
    * `out_file = floor(start_off / target)` — multiple shards collapse
    * per output file at sf0.01 (load-bearing: a too-small target would
    * make the plan the identity map and prove nothing). Integer sizes →
    * exact cumsums; the window runs over 64 manifest rows, not the
    * corpus. */
  val compaction = Q(
    "ext_compaction_plan",
    (s, d) => graft.ext.Curation.compactionPlan(
      graft.ext.Curation.shardManifest(
        Tables.documents(s, d), "doc_id", "text", nShards = 64)
        .select(col("shard_id"), col("n_chars")),
      "shard_id", "n_chars", targetSize = 40000L),
    Some("""WITH t AS (
        SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 64 AS shard_id,
          length(text) AS n_ch
        FROM documents),
      m AS (
        SELECT shard_id, CAST(sum(n_ch) AS BIGINT) AS n_chars
        FROM t GROUP BY 1),
      plan AS (
        SELECT shard_id, n_chars,
          CAST(sum(n_chars) OVER (ORDER BY shard_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            - n_chars AS start_off
        FROM m)
      SELECT shard_id, n_chars, start_off,
        CAST(floor(start_off / CAST(40000 AS DOUBLE)) AS INT) AS out_file
      FROM plan"""))

  /** PSI distribution-drift report
    * ([[graft.ext.Curation.distributionDrift]]) on token-count
    * distribution between the corpus and a deliberately drifted
    * snapshot (every 5th doc dropped, every 7th re-appended with
    * doubled text — both tails of the length distribution move, so
    * several buckets carry non-trivial PSI contributions). Laplace
    * smoothing over the full-joined bucket set; 6-dp rounds before and
    * after the ln per the lmScore rules. */
  val driftPsi = Q(
    "ext_signal_drift_psi",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val nTok = graft.ext.TextStats.tokenCount(col("text"))
      val ref = docs.select(nTok.as("n_tok"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0).select(nTok.as("n_tok"))
        .unionAll(docs.filter(col("doc_id") % 7 === 0)
          .select(graft.ext.TextStats.tokenCount(
            concat(col("text"), lit(" "), col("text"))).as("n_tok")))
      graft.ext.Curation.distributionDrift(ref, cur, "n_tok", width = 32)
    },
    Some("""WITH ref AS (
        SELECT len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS v
        FROM documents),
      cur AS (
        SELECT len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS v
        FROM documents WHERE doc_id % 5 != 0
        UNION ALL
        SELECT len(string_split_regex(trim(text || ' ' || text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS v
        FROM documents WHERE doc_id % 7 = 0),
      hr AS (SELECT v - v % 32 AS bucket_lo, count(*) AS n_ref
             FROM ref GROUP BY 1),
      hc AS (SELECT v - v % 32 AS bucket_lo, count(*) AS n_cur
             FROM cur GROUP BY 1),
      h AS (
        SELECT coalesce(hr.bucket_lo, hc.bucket_lo) AS bucket_lo,
          coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        FROM hr FULL JOIN hc ON hr.bucket_lo = hc.bucket_lo),
      t AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
          CAST(sum(n_cur) AS BIGINT) AS tot_cur,
          count(*) AS n_buckets
        FROM h),
      shares AS (
        SELECT bucket_lo, n_ref, n_cur,
          round((n_ref + 1) / CAST(tot_ref + n_buckets AS DOUBLE), 6) AS p_ref,
          round((n_cur + 1) / CAST(tot_cur + n_buckets AS DOUBLE), 6) AS p_cur
        FROM h, t)
      SELECT bucket_lo, n_ref, n_cur, p_ref, p_cur,
        round((p_ref - p_cur) * round(ln(p_ref / p_cur), 6), 6)
          AS psi_contrib
      FROM shares"""))

  /** Cross-source overlap matrix: for each source pair, how many
    * DISTINCT contents (by fingerprint) appear in BOTH — the table that
    * tells a curation team which feeds mirror each other (and which
    * union is actually additive). Distinct (source, fp) projection
    * first (the shuffle carries one row per source-content pair, not
    * per doc), then a self-equi-join on the fingerprint: a content in k
    * sources contributes C(k,2) ≤ C(|sources|,2) rows — bounded by the
    * source count squared, never corpus size. */
  /** Grouped distribution-shape profile
    * ([[graft.ops.Profiling.moments]]): population mean/std/skewness/
    * excess-kurtosis of the per-source token-count distribution from
    * exact DECIMAL power sums — the describe() extension that tells a
    * doc-length budget whether a source is head-heavy or symmetric.
    * Both engines combine identical doubles through the identical
    * expression tree, so 6-dp rounds hash-match. */
  val momentsProfile = Q(
    "ext_moments_profile",
    (s, d) => graft.ops.Profiling.moments(
      Tables.documents(s, d).select(col("source"),
        TextStats.tokenCount(col("text")).as("n_tok")),
      "n_tok", Seq("source")),
    Some("""WITH t AS (
        SELECT source,
          len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS x
        FROM documents),
      w AS (
        SELECT source, count(*) AS n,
          CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS s1,
          CAST(sum(CAST(x*x AS DECIMAL(38,6))) AS DOUBLE) AS s2,
          CAST(sum(CAST(x*x*x AS DECIMAL(38,6))) AS DOUBLE) AS s3,
          CAST(sum(CAST(x*x*x*x AS DECIMAL(38,6))) AS DOUBLE) AS s4
        FROM t GROUP BY source),
      r AS (
        SELECT source, n, s1 / n AS m, s2 / n AS r2, s3 / n AS r3,
          s4 / n AS r4
        FROM w),
      c AS (
        SELECT source, n, m, r2, r3, r4, r2 - m * m AS m2 FROM r)
      SELECT source, n AS n_rows, round(m, 6) AS mean,
        CASE WHEN m2 > 0 THEN round(sqrt(m2), 6) ELSE NULL END AS std,
        CASE WHEN m2 > 0 THEN
          round((r3 - 3.0 * m * r2 + 2.0 * m * m * m)
            / (m2 * sqrt(m2)), 6)
        ELSE NULL END AS skewness,
        CASE WHEN m2 > 0 THEN
          round((r4 - 4.0 * m * r3 + 6.0 * m * m * r2
              - 3.0 * m * m * m * m) / (m2 * m2) - 3.0, 6)
        ELSE NULL END AS kurt_excess
      FROM c"""))

  /** k-anonymity audit ([[graft.ext.Curation.kAnonymity]]) over the
    * customer table's quasi-identifier tuple (nation, market segment,
    * account-balance bucket) — the release-review table: any group with
    * `is_anon = 0` re-identifies its members to ≤ k−1 candidates. The
    * 25-row nation dimension broadcasts; the bucket is integer-floored
    * from an identical double division in both engines. */
  val kAnon = Q(
    "ext_k_anonymity",
    (s, d) => {
      val joined = Tables.customer(s, d).join(
        broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(6000.0)).as("bal_bucket"))
      graft.ext.Curation.kAnonymity(
        joined, Seq("n_name", "c_mktsegment", "bal_bucket"), k = 5)
    },
    Some("""SELECT n_name, c_mktsegment,
        CAST(floor(c_acctbal / 6000.0) AS BIGINT) AS bal_bucket,
        count(*) AS n_rows,
        CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS is_anon
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2, 3"""))

  /** l-diversity audit ([[graft.ext.Curation.lDiversity]], l = 3) over
    * the same release table as the k-anonymity query, with the market
    * segment as the SENSITIVE attribute and (nation, balance bucket) as
    * the quasi-identifier — the homogeneity check: a (nation, bucket)
    * cell of 5+ customers that all share one segment is k-anonymous yet
    * leaks the segment outright. */
  val lDiversity = Q(
    "ext_l_diversity",
    (s, d) => {
      val joined = Tables.customer(s, d).join(
        broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          floor(col("c_acctbal") / lit(6000.0)).as("bal_bucket"),
          col("c_mktsegment"))
      graft.ext.Curation.lDiversity(
        joined, Seq("n_name", "bal_bucket"), "c_mktsegment", l = 3)
    },
    Some("""SELECT n_name,
        CAST(floor(c_acctbal / 6000.0) AS BIGINT) AS bal_bucket,
        count(*) AS n_rows,
        count(DISTINCT c_mktsegment) AS n_sensitive,
        CASE WHEN count(DISTINCT c_mktsegment) >= 3 THEN 1 ELSE 0 END
          AS is_diverse
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2"""))

  /** t-closeness audit ([[graft.ext.Curation.tCloseness]], t = 0.35)
    * over the same release table: per (nation, balance-bucket) group,
    * the total-variation distance between the group's market-segment
    * distribution and the corpus-wide one — the skew leak l-diversity
    * misses. The oracle replays the grid (groups × segments, absent
    * combinations as 0) and the 6-dp decimal term sums. */
  val tCloseness = Q(
    "ext_t_closeness",
    (s, d) => {
      val joined = Tables.customer(s, d).join(
        broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          floor(col("c_acctbal") / lit(6000.0)).as("bal_bucket"),
          col("c_mktsegment"))
      graft.ext.Curation.tCloseness(
        joined, Seq("n_name", "bal_bucket"), "c_mktsegment", t = 0.35)
    },
    Some("""WITH rel AS (
        SELECT n_name, CAST(floor(c_acctbal / 6000.0) AS BIGINT)
            AS bal_bucket,
          c_mktsegment AS v
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      gv AS (
        SELECT n_name, bal_bucket, v, count(*) AS c
        FROM rel GROUP BY 1, 2, 3),
      gn AS (
        SELECT n_name, bal_bucket, CAST(sum(c) AS BIGINT) AS gn
        FROM gv GROUP BY 1, 2),
      vg AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM gv GROUP BY v),
      nn AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM vg),
      grid AS (
        SELECT gn.n_name, gn.bal_bucket, gn.gn, vg.v,
          round(abs(CAST(coalesce(gv.c, 0) AS DOUBLE) / gn.gn
            - CAST(vg.cv AS DOUBLE) / nn.n), 6) AS d
        FROM gn CROSS JOIN vg CROSS JOIN nn
        LEFT JOIN gv ON gv.n_name IS NOT DISTINCT FROM gn.n_name
          AND gv.bal_bucket IS NOT DISTINCT FROM gn.bal_bucket
          AND gv.v IS NOT DISTINCT FROM vg.v)
      SELECT n_name, bal_bucket, CAST(gn AS BIGINT) AS n_rows,
        round(0.5 * CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE), 6)
          AS tv_dist,
        CASE WHEN round(0.5 * CAST(sum(CAST(d AS DECIMAL(18,6)))
            AS DOUBLE), 6) <= 0.35 THEN 1 ELSE 0 END AS is_close
      FROM grid GROUP BY n_name, bal_bucket, gn"""))

  /** ε-DP noisy per-nation counts
    * ([[graft.ext.Curation.dpNoisyCounts]], ε = 0.5): the release-side
    * companion to the k-anonymity audit — counts leave with Laplace
    * noise instead of leaving exact. The md5-keyed uniform makes the
    * draw reproducible, so the oracle replays the identical
    * inverse-CDF arithmetic (6-dp ln round per the transcendental
    * rule). */
  val dpHistogram = Q(
    "ext_dp_histogram",
    (s, d) => graft.ext.Curation.dpNoisyCounts(
      Tables.customer(s, d).join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey")),
      "n_name", epsilon = 0.5),
    Some("""WITH g AS (
        SELECT n_name, count(*) AS n_true
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1),
      n AS (
        SELECT n_name, n_true,
          least(greatest(
            (('0x' || substring(md5('dp:' || n_name), 1, 8))::BIGINT + 1)
              / 4294967296.0, 0.000001), 0.999999) AS u
        FROM g)
      SELECT n_name, n_true,
        round(n_true + -sign(u - 0.5) * 2.0
          * round(ln(1.0 - 2.0 * abs(u - 0.5)), 6), 6) AS n_noisy
      FROM n"""))

  /** Cell-suppression k-anonymization
    * ([[graft.ext.Curation.suppressSmallGroups]]): quasi-groups below k
    * get the WHOLE quasi tuple masked to '*', then the released table is
    * re-aggregated — the verification view: every surviving unmasked
    * tuple must appear ≥ k times, the masked remainder pools under
    * ('*','*','*'). */
  val kAnonSuppress = Q(
    "ext_k_anon_suppress",
    (s, d) => {
      val joined = Tables.customer(s, d).join(
        broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(6000.0)).as("bal_bucket"),
          col("c_custkey"))
      graft.ext.Curation.suppressSmallGroups(
          joined, Seq("n_name", "c_mktsegment", "bal_bucket"), k = 5)
        .groupBy(col("n_name"), col("c_mktsegment"), col("bal_bucket"))
        .agg(count(lit(1)).as("n_rows"))
    },
    Some("""WITH q AS (
        SELECT n_name, c_mktsegment,
          CAST(floor(c_acctbal / 6000.0) AS BIGINT) AS bal_bucket
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      g AS (
        SELECT n_name, c_mktsegment, bal_bucket, count(*) AS n
        FROM q GROUP BY 1, 2, 3),
      m AS (
        SELECT
          CASE WHEN n >= 5 THEN q.n_name ELSE '*' END AS n_name,
          CASE WHEN n >= 5 THEN q.c_mktsegment ELSE '*' END
            AS c_mktsegment,
          CASE WHEN n >= 5 THEN CAST(q.bal_bucket AS VARCHAR) ELSE '*' END
            AS bal_bucket
        FROM q JOIN g USING (n_name, c_mktsegment, bal_bucket))
      SELECT n_name, c_mktsegment, bal_bucket, count(*) AS n_rows
      FROM m GROUP BY 1, 2, 3"""))

  val sourceOverlap = Q(
    "ext_source_overlap",
    (s, d) => {
      // salt: every 10th doc is mirrored into a 'mirrorN' feed — the
      // cross-feed syndication pattern the matrix exists to expose
      // (without it the synthetic corpus has no cross-source dups at
      // sf0.01 and the query would be verified against an empty frame)
      val docs = Tables.documents(s, d)
      val salted = docs.select(col("source"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select(concat(lit("mirror"), col("doc_id") % 3).as("source"),
            col("text")))
      val fps = graft.ops.CacheScope.persist(
        salted.select(col("source"),
          TextStats.fingerprint(col("text")).as("fp")).distinct())
      fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    },
    Some(s"""WITH salted AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'mirror' || CAST(doc_id % 3 AS VARCHAR) AS source, text
        FROM documents WHERE doc_id % 10 = 0),
      fps AS (
        SELECT DISTINCT source, ${fpSql()} AS fp
        FROM salted)
      SELECT a.source AS source_a, b.source AS source_b,
        count(*) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2"""))

  /** Transitive-closure components CTE over the MinHash near-dup pairs
    * (one definition, shared by the ext_dedup_components and
    * ext_dedup_keep_best oracles): ends in `comp(doc_id, rep_id)`. */
  private def componentsCte: String =
    s"""RECURSIVE $minhashCteBody,
        pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.2),
        edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a)"""

  /** Connected components over the MinHash near-dup pairs: every doc
    * labeled with its component's min id (self for singletons). The
    * oracle computes the transitive closure with a recursive CTE and
    * takes the min reachable id — exactly the fixpoint the iterative
    * min-label propagation converges to. */
  val dedupComponents = Q(
    "ext_dedup_components",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.2)
      TextDedup.connectedComponents(docs, "doc_id", pairs)
    },
    Some(s"""WITH $componentsCte
      SELECT doc_id, rep_id FROM comp"""))

  /** Cluster-size histogram ([[graft.ext.TextDedup.clusterSizeHistogram]])
    * over the MinHash components — dedup observability (share of corpus
    * in clusters of each size). Shares the components CTE. */
  val dedupClusterSizes = Q(
    "ext_dedup_cluster_sizes",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.2)
      TextDedup.clusterSizeHistogram(
        TextDedup.connectedComponents(docs, "doc_id", pairs))
    },
    Some(s"""WITH $componentsCte,
        sizes AS (
          SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT cluster_size, count(*) AS n_clusters
      FROM sizes GROUP BY 1"""))

  /** Leakage-FREE split assignment: the whole near-dup CLUSTER splits
    * together — the deterministic md5 split coin keys on the
    * component's `rep_id`, not the doc id, so two near-duplicates can
    * never land on opposite sides of a train/test boundary (the defect
    * `ext_split_leakage` MEASURES, prevented by construction; by-doc
    * hash splitting is the control that leaks). Same component mining
    * as `ext_dedup_components`, then the `ext_hash_split` bucket rule
    * applied to rep_id. */
  val clusterSplit = Q(
    "ext_cluster_split",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.2)
      val comp = TextDedup.connectedComponents(docs, "doc_id", pairs)
      TextDedup.hashSplit(comp, "rep_id")
        .select(col("doc_id"), col("rep_id"), col("split"))
    },
    Some(s"""WITH $componentsCte
      SELECT doc_id, rep_id,
        CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, rep_id,
        ('0x' || substring(md5(CAST(rep_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 AS b
      FROM comp) t"""))

  /** Soft deduplication ([[graft.ext.TextDedup.softDedupWeights]]):
    * every member of a near-dup cluster of size n down-weighted to 1/n
    * instead of dropped — each distinct content unit contributes one
    * unit of training mass however many copies the crawl caught. Same
    * component mining as `ext_dedup_components`; the oracle adds the
    * rep-grain size count and the 6-dp reciprocal on the
    * transitive-closure components. */
  val softDedupWeights = Q(
    "ext_softdedup_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.2)
      TextDedup.softDedupWeights(
        TextDedup.connectedComponents(docs, "doc_id", pairs), "doc_id")
    },
    Some(s"""WITH $componentsCte,
        sizes AS (
          SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT doc_id, rep_id, cluster_size,
        round(1.0 / CAST(cluster_size AS DOUBLE), 6) AS weight
      FROM comp JOIN sizes USING (rep_id)"""))

  /** Canonical-doc selection per near-dup cluster
    * ([[graft.ext.Curation.keepBestInComponent]]): one row per component
    * with the highest-quality member (ties → lowest doc id). The oracle
    * replays the same max-then-argmin on the recursive-CTE components —
    * deterministic because quality is 6-dp-rounded on both engines. */
  val dedupKeepBest = Q(
    "ext_dedup_keep_best",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.2)
      Curation.keepBestInComponent(docs, "text", "doc_id", pairs)
    },
    Some(s"""WITH $componentsCte,
        c AS (SELECT doc_id, $qcTokSql AS tc, $qcSrSql AS sr,
                $qcPrSql AS pr, $qcDrSql AS dr
              FROM documents),
        scoredq AS (SELECT doc_id,
            ${qualityCompositeSql("tc", "sr", "pr", "dr")} AS q
          FROM c),
        labeled AS (SELECT comp.rep_id, comp.doc_id, scoredq.q
                    FROM comp JOIN scoredq USING (doc_id)),
        best AS (SELECT rep_id, max(q) AS quality,
                   count(*) AS n_members
                 FROM labeled GROUP BY rep_id)
      SELECT l.rep_id, min(l.doc_id) AS keep_id, b.quality,
        b.n_members
      FROM labeled l JOIN best b ON l.rep_id = b.rep_id
        AND l.q = b.quality
      GROUP BY l.rep_id, b.quality, b.n_members"""))

  /** Per-source quality cap ([[graft.ext.Curation.sourceCap]], the
    * RefinedWeb-style per-domain cap): top 10 docs per source by quality
    * desc / doc_id asc, via the bounded-heap top-k aggregate (map-side
    * partials — a hot domain never funnels through one reducer). The
    * oracle is the window-rank statement the aggregate replaces. */
  val sourceCap = Q(
    "ext_source_cap",
    (s, d) => Curation.sourceCap(
      Tables.documents(s, d), "text", "doc_id", "source", k = 10),
    Some(s"""WITH c AS (
        SELECT doc_id, source, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM documents),
      scoredq AS (SELECT doc_id, source,
          ${qualityCompositeSql("tc", "sr", "pr", "dr")} AS quality
        FROM c),
      r AS (SELECT source, doc_id, quality,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY quality DESC, doc_id) AS INT) AS rank
            FROM scoredq)
      SELECT source, doc_id, quality, rank FROM r WHERE rank <= 10"""))

  // same 32-bit hash-set measure as the MinHash verify step (mirror of
  // ShingleHashes), so Spark and the oracle compute the identical
  // Jaccard even in the (astronomically unlikely) collision case; the
  // oracle states the ALL-PAIRS form — shared by the inverted-index
  // join and its prefix-filtered variant, proving both candidate
  // generations lossless at their thresholds
  private def ngramJaccardOracleSql(threshold: Double): String =
    s"""WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents),
      sh AS (SELECT doc_id, ${dkShingles(3)} AS sh FROM toks),
      hs AS (
        SELECT doc_id,
          list_distinct(list_transform(sh,
            x -> CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT))) AS hs
        FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6)
            AS jaccard,
          len(list_intersect(a.hs, b.hs)) AS inter
        FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, jaccard FROM pairs
      WHERE jaccard >= $threshold AND inter > 0"""

  val dedupNgram = Q(
    "ext_dedup_ngram_jaccard",
    (s, d) => TextDedup.ngramJaccardPairs(
      Tables.documents(s, d), "text", "doc_id", n = 3, threshold = 0.2),
    Some(ngramJaccardOracleSql(0.2)))

  /** PREFIX-FILTERED exact Jaccard join
    * ([[TextDedup.prefixFilterJaccardPairs]] carries the lossless
    * prefix-cut proof and the 100 TB rationale): the Bayardo et al.
    * 2007 candidate generation — only each doc's first
    * |s| − ⌈θ·|s|⌉ + 1 sorted shingle hashes enter the inverted
    * index — verified with the exact full-set intersection. The
    * oracle is the same all-pairs statement as the full
    * inverted-index join at θ = 0.5 — hash-equality IS the
    * losslessness proof at corpus scale. */
  val dedupPrefixFilter = Q(
    "ext_dedup_prefix_filter",
    (s, d) => TextDedup.prefixFilterJaccardPairs(
      Tables.documents(s, d), "text", "doc_id", n = 3, threshold = 0.5),
    Some(ngramJaccardOracleSql(0.5)))

  /** Shared signature CTE mirroring TextDedup.simhash (32 sign-sums). */
  private def simhashSigCte: String = {
    val bitExprs = (0 until 32).map { j =>
      s"""(CASE WHEN list_sum(list_transform(sh,
          x -> CASE WHEN (${dkHash(0, "x")} >> $j) & 1 = 1
                    THEN 1 ELSE -1 END)) > 0
          THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)"""
    }
    s"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
         FROM documents),
       sh AS (SELECT doc_id, ${dkShingles(3)} AS sh FROM toks),
       sig AS (SELECT doc_id, ${bitExprs.mkString(" + ")} AS simhash FROM sh)"""
  }

  val dedupSimhash = Q(
    "ext_dedup_simhash",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextDedup.simhash(col("text"), 3).as("simhash")),
    Some(s"$simhashSigCte SELECT doc_id, simhash FROM sig"))

  /** Banded-Hamming SimHash pairing: band agreement is only the candidate
    * filter, so the oracle can skip straight to the all-pairs distance
    * check — banding guarantees complete recall at Hamming ≤ bands−1. */
  val dedupSimhashPairs = Q(
    "ext_dedup_simhash_pairs",
    (s, d) => TextDedup.simhashNearDups(
      Tables.documents(s, d), "text", "doc_id", n = 3, bands = 4),
    Some(s"""$simhashSigCte
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""))

  // ---- similarity search ---------------------------------------------------

  /** Portable cosine in DuckDB SQL: double dot / norms, rounded 6 dp.
    * Zero-norm contract (mirrors Similarity.cosine + TopKAgg): a
    * zero-norm vector yields NULL here and NaN on the Spark side; every
    * consumer excludes it identically — ranked stages carry an explicit
    * `cos IS NOT NULL`, threshold stages exclude it by predicate
    * three-valued logic (NULL fails `>=` exactly as NaN does). */
  // def, not val: referenced by queries declared earlier in the object
  // (val init order would interpolate null into their SQL)
  private[graft] def dkCos =
    """round(list_dot_product(a_emb, b_emb)
      / (sqrt(list_dot_product(a_emb, a_emb))
         * sqrt(list_dot_product(b_emb, b_emb))), 6)"""

  // ---- shared DuckDB fragments for the deterministic ANN oracles ---------
  // One definition each for the doubles view, the seed-centroid Voronoi
  // assignment, the seed-codebook PQ encode, and the shortlist/re-rank
  // tail — used across ext_sim_ivf_topk / ext_cluster_balanced_sample /
  // ext_sim_pq_topk / ext_sim_ivfpq_topk. Hand-maintained copies would be
  // the oracle-drift bug class.

  /** 6-dp cosine between two named doubles-list columns. */
  private def annCos(a: String, b: String) =
    s"""round(list_dot_product($a, $b)
          / (sqrt(list_dot_product($a, $a))
             * sqrt(list_dot_product($b, $b))), 6)"""

  /** `v`: the embeddings table as (vec_id, doubles list). */
  private def annVCte = """v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings)"""

  /** Seed-centroid Voronoi assignment (mirrors [[graft.ext.IvfIndex]]'s
    * seedModel + nearestCentroidDet): seeds → indexed centroids →
    * 6-dp sims → (sim desc, idx) ranking → `assign`; `rsims` stays
    * visible for probe CTEs. */
  private def ivfAssignCtes(nlist: Int) = s"""seeds AS (
        SELECT vec_id, emb FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
      cent AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS idx,
               emb
        FROM seeds),
      sims AS (
        SELECT v.vec_id, c.idx,
          ${annCos("v.emb", "c.emb")} AS sim
        FROM v CROSS JOIN cent c),
      rsims AS (
        SELECT vec_id, idx,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, idx ASC) AS rk
        FROM sims),
      assign AS (SELECT vec_id, idx AS cluster FROM rsims WHERE rk = 1)"""

  // PQ geometry shared by both PQ oracles and the Spark-side seedModel
  // calls: m subspaces of subDim dims, k codewords per subspace.
  private val pqM = 8
  private val pqK = 32
  private val pqSub = 8

  /** Seed-codebook PQ encode (mirrors [[graft.ext.PqIndex]]'s seedModel +
    * PqCodes argmin): codeword (si, cj) = subspace si of the cj-th seed;
    * per-(vector, subspace) argmin of |c|²−2·dot with first-min tie;
    * `encw` carries each vector's chosen codewords + their norms pivoted
    * wide for the left-assoc ADC chains. */
  private def pqEncodeCtes = {
    val pivotCodes = (0 until pqM)
      .map(i => s"max(CASE WHEN si = $i THEN cj END) AS c$i")
      .mkString(",\n          ")
    val bookJoins = (0 until pqM)
      .map(i => s"JOIN cwn w$i ON w$i.si = $i AND w$i.cj = e.c$i")
      .mkString("\n        ")
    val bookCols = (0 until pqM)
      .map(i => s"w$i.cn2 AS n$i, w$i.c AS cc$i").mkString(", ")
    s"""pqseeds AS (
        SELECT vec_id, emb FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqK),
      cw AS (
        SELECT i.i AS si,
          CAST(row_number() OVER (PARTITION BY i.i ORDER BY s.vec_id) - 1
            AS INT) AS cj,
          list_slice(s.emb, i.i * $pqSub + 1, i.i * $pqSub + $pqSub) AS c
        FROM pqseeds s CROSS JOIN range(0, $pqM) i(i)),
      cwn AS (SELECT si, cj, c, list_dot_product(c, c) AS cn2 FROM cw),
      subv AS (
        SELECT v.vec_id, i.i AS si,
          list_slice(v.emb, i.i * $pqSub + 1, i.i * $pqSub + $pqSub) AS vs
        FROM v CROSS JOIN range(0, $pqM) i(i)),
      dists AS (
        SELECT s.vec_id, s.si, w.cj,
          w.cn2 - 2 * list_dot_product(s.vs, w.c) AS d
        FROM subv s JOIN cwn w ON w.si = s.si),
      codes AS (
        SELECT vec_id, si, cj FROM (
          SELECT vec_id, si, cj,
            row_number() OVER (PARTITION BY vec_id, si
              ORDER BY d ASC, cj ASC) AS rn
          FROM dists) WHERE rn = 1),
      enc AS (
        SELECT vec_id,
          $pivotCodes
        FROM codes GROUP BY vec_id),
      encw AS (
        SELECT e.vec_id, $bookCols
        FROM enc e
        $bookJoins)"""
  }

  /** ADC cosine for a `cand` row joining query `q` to encoded `e` —
    * left-assoc LUT-term and norm chains, ascending subspace, matching
    * the Spark side's reduce order. */
  private def pqAdcCos = {
    def sl(e: String, i: Int) =
      s"list_slice($e, ${i * pqSub + 1}, ${(i + 1) * pqSub})"
    val dotChain = (0 until pqM)
      .map(i => s"list_dot_product(${sl("q.emb", i)}, e.cc$i)")
      .mkString(" + ")
    val normChain = (0 until pqM).map(i => s"e.n$i").mkString(" + ")
    s"""round(($dotChain)
            / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt($normChain)),
            6)"""
  }

  /** Shortlist cap + exact re-rank + final top-k from a `cand`
    * (query_id, neighbor_id, cos) CTE — the oversample/re-rank tail both
    * PQ oracles share. */
  private def pqShortlistTail(shortK: Int, k: Int) = s"""short AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS rn
          FROM cand) WHERE rn <= $shortK),
      exact AS (
        SELECT s.query_id, s.neighbor_id,
          ${annCos("q.emb", "n.emb")} AS cos
        FROM short s
        JOIN v q ON q.vec_id = s.query_id
        JOIN v n ON n.vec_id = s.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM exact)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= $k"""

  /** Shared brute-force ranked CTE chain (vec_id < 8 queries, cosine,
    * (cos DESC, id ASC) tie-break) — one definition used by BOTH the
    * `ext_sim_bruteforce_topk` oracle and the ranking-metrics oracle so
    * the two cannot drift. */
  private def bfRankedCtes = s"""q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_emb
        FROM embeddings WHERE vec_id < 8),
      c AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS b_emb
        FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id, $dkCos AS cos
        FROM q JOIN c ON query_id != neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored WHERE cos IS NOT NULL)"""

  val simBrute = Q(
    "ext_sim_bruteforce_topk",
    (s, d) => Similarity.bruteForceTopK(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5),
    Some(s"""WITH $bfRankedCtes
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""),
    bench = true)

  /** Ranking-quality eval ([[graft.ext.Retrieval.rankingMetrics]]):
    * recall@5 / precision@5 / reciprocal rank of the brute-force cosine
    * top-k against same-label relevance (the embeddings table's `label`
    * column as ground truth). Turns the spec-only ANN recall checks
    * into an oracle-checked table. */
  val simEval = Q(
    "ext_sim_eval_metrics",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val ranked = Similarity.bruteForceTopK(e, col("vec_id") < 8, k = 5)
      val truth = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label"))
        .join(e.select(col("vec_id").as("doc_id"), col("label")), "label")
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.ext.Retrieval.rankingMetrics(ranked, truth, k = 5)
    },
    Some(s"""WITH $bfRankedCtes,
      truth AS (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND b.vec_id != a.vec_id
        WHERE a.vec_id < 8),
      nrel AS (
        SELECT query_id, count(*) AS n_relevant FROM truth GROUP BY 1),
      j AS (
        SELECT r.query_id, r.rank,
          CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM ranked r
        LEFT JOIN truth t
          ON r.query_id = t.query_id AND r.neighbor_id = t.doc_id
        WHERE r.rank <= 5),
      perq AS (
        SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits_at_k,
          min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
        FROM j GROUP BY 1)
      SELECT n.query_id, n.n_relevant,
        coalesce(p.hits_at_k, 0) AS hits_at_k,
        round(coalesce(p.hits_at_k, 0) / CAST(n.n_relevant AS DOUBLE), 6)
          AS recall_at_k,
        round(coalesce(p.hits_at_k, 0) / CAST(5 AS DOUBLE), 6)
          AS precision_at_k,
        coalesce(round(CAST(1 AS DOUBLE) / p.first_rel_rank, 6),
          CAST(0 AS DOUBLE)) AS reciprocal_rank
      FROM nrel n LEFT JOIN perq p USING (query_id)"""))

  /** Hard-negative mining ([[graft.ext.Similarity.hardNegatives]]):
    * top-5 most-similar different-label vectors per query — the
    * contrastive-training counterpart of the eval query above. Oracle
    * is the brute-force ranked chain with the label inequality in the
    * score join. */
  val simHardNegatives = Q(
    "ext_sim_hard_negatives",
    (s, d) => Similarity.hardNegatives(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5),
    Some(s"""WITH q AS (
        SELECT vec_id AS query_id, label AS q_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_emb
        FROM embeddings WHERE vec_id < 8),
      c AS (
        SELECT vec_id AS neighbor_id, label AS n_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS b_emb
        FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id, $dkCos AS cos
        FROM q JOIN c ON query_id != neighbor_id AND q_label != n_label),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored WHERE cos IS NOT NULL)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""))

  /** Semi-hard negative mining
    * ([[graft.ext.Similarity.semiHardNegatives]]): nearest
    * different-label vectors still below the query's best same-label
    * cosine — the triplet-loss band. */
  val simSemiHardNegatives = Q(
    "ext_sim_semihard_negatives",
    (s, d) => Similarity.semiHardNegatives(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5),
    Some(s"""WITH q AS (
        SELECT vec_id AS query_id, label AS q_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_emb
        FROM embeddings WHERE vec_id < 8),
      c AS (
        SELECT vec_id AS neighbor_id, label AS n_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS b_emb
        FROM embeddings),
      scored AS (
        SELECT query_id, q_label, neighbor_id, n_label, $dkCos AS cos
        FROM q JOIN c ON query_id != neighbor_id),
      pos AS (
        SELECT query_id, max(cos) AS pos_cos
        FROM scored WHERE q_label = n_label GROUP BY query_id),
      neg AS (
        SELECT s.query_id, s.neighbor_id, s.cos
        FROM scored s JOIN pos USING (query_id)
        WHERE s.q_label <> s.n_label AND s.cos < pos.pos_cos),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM neg)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""))

  /** Bitext-style margin alignment
    * ([[graft.ext.Similarity.bitextMarginPairsLsh]]): mutual-best
    * cross-side cosine pairs with the ratio-margin criterion. Sides are
    * the even/odd vec_id halves; threshold 1.0 keeps pairs at or above
    * their local similarity floor.
    *
    * Candidates come from 4-bit sign buckets with one-bit multi-probe on
    * side A — the scale-bounded stage (no corpus broadcast, no
    * cross join; both sides shuffle once on the bucket key). The oracle
    * replays the IDENTICAL bucket/probe candidate generation, so the
    * approximation is oracle-checked, not oracle-hidden — the exact
    * all-pairs form stays as the spec-only baseline (ExtSpec), the same
    * split the IVF/PQ family uses. */
  val simBitextMargin = Q(
    "ext_bitext_margin_pairs",
    (s, d) => Similarity.bitextMarginPairsLsh(
      Tables.embeddings(s, d), col("vec_id") % 2 === 0, k = 4,
      marginThreshold = 1.0, bits = 4, probeRadius = 1),
    Some {
      val bucket = (1 to 4).map(i =>
        s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      // one-bit probe flips of the 4-char bucket string, position i
      val probes = "bucket" +: (1 to 4).map { i =>
        s"""substring(bucket, 1, ${i - 1})
            || (CASE WHEN substring(bucket, $i, 1) = '1'
                THEN '0' ELSE '1' END)
            || substring(bucket, ${i + 1}, ${4 - i})"""
      }
      s"""WITH b0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               $bucket AS bucket
        FROM embeddings),
      av AS (
        SELECT vec_id AS a_id, emb AS a_emb, bucket
        FROM b0 WHERE vec_id % 2 = 0),
      ap AS (
        SELECT a_id, a_emb,
               unnest([${probes.mkString(",\n                 ")}]) AS bucket
        FROM av),
      bv AS (
        SELECT vec_id AS b_id, emb AS b_emb, bucket
        FROM b0 WHERE vec_id % 2 <> 0),
      scored AS (
        SELECT a_id, b_id, $dkCos AS cos
        FROM ap JOIN bv USING (bucket)),
      ra AS (
        SELECT a_id, b_id, cos, row_number() OVER (PARTITION BY a_id
          ORDER BY cos DESC, b_id ASC) AS r FROM scored WHERE cos IS NOT NULL),
      rb AS (
        SELECT a_id, b_id, cos, row_number() OVER (PARTITION BY b_id
          ORDER BY cos DESC, a_id ASC) AS r FROM scored WHERE cos IS NOT NULL),
      da AS (
        SELECT a_id, sum(CAST(cos AS DECIMAL(18,6))) AS sa,
          count(*) AS ca
        FROM ra WHERE r <= 4 GROUP BY a_id),
      db AS (
        SELECT b_id, sum(CAST(cos AS DECIMAL(18,6))) AS sb,
          count(*) AS cb
        FROM rb WHERE r <= 4 GROUP BY b_id),
      best AS (
        SELECT ra.a_id, ra.b_id, ra.cos
        FROM ra JOIN rb ON ra.a_id = rb.a_id AND ra.b_id = rb.b_id
          AND rb.r = 1
        WHERE ra.r = 1)
      SELECT t.a_id, t.b_id, t.cos,
        round(t.cos * 2 * ca * cb
          / CAST(sa * cb + sb * ca AS DOUBLE), 6) AS margin
      FROM best t JOIN da USING (a_id) JOIN db USING (b_id)
      WHERE round(t.cos * 2 * ca * cb
          / CAST(sa * cb + sb * ca AS DOUBLE), 6) >= 1.0"""
    })

  val simLsh = Q(
    "ext_sim_lsh_topk",
    (s, d) => Similarity.lshTopK(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5, bits = 4),
    Some(s"""WITH b AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, emb AS a_emb, bucket FROM b
            WHERE vec_id < 8),
      c AS (SELECT vec_id AS neighbor_id, emb AS b_emb, bucket FROM b),
      scored AS (
        SELECT query_id, neighbor_id, $dkCos AS cos
        FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored WHERE cos IS NOT NULL)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""))

  /** Random-hyperplane LSH top-k: the planes are md5-derived integers, so
    * the oracle reconstructs them EXACTLY (h/2^31 − 1 in double) and the
    * bucket signs agree bit-for-bit (in-order double summation on both
    * sides, the same contract the cosine oracles already rely on). */
  val simLshRh = Q(
    "ext_sim_lsh_rh_topk",
    (s, d) => Similarity.lshTopKHyperplane(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5,
      bits = 6, dim = 64, seed = 42),
    Some {
      val planeExprs = (0 until 6).map { i =>
        val lits = (0 until 64).map { dd =>
          s"(${Similarity.hyperplaneCoeffInt(42, i, dd)}/2147483648.0 - 1)"
        }.mkString(", ")
        s"""(CASE WHEN list_dot_product(emb, [$lits]) >= 0
            THEN '1' ELSE '0' END)"""
      }.mkString(" || ")
      s"""WITH b AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        bk AS (SELECT vec_id, emb, $planeExprs AS bucket FROM b),
        q AS (SELECT vec_id AS query_id, emb AS a_emb, bucket FROM bk
              WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, emb AS b_emb, bucket FROM bk),
        scored AS (
          SELECT query_id, neighbor_id, $dkCos AS cos
          FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored WHERE cos IS NOT NULL)
        SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5"""
    })

  /** DuckDB expression for one [[graft.ext.Similarity.randomProjection]]
    * output coordinate: the md5-derived plane reconstructed as exact
    * literals (h/2^31 − 1, exact in double), in-order
    * list_dot_product, 6-dp round — the simLshRh plane contract with
    * values kept instead of signs. */
  private def rpDotSql(i: Int, dim: Int, seed: Int): String = {
    val lits = (0 until dim).map { dd =>
      s"(${Similarity.hyperplaneCoeffInt(seed, i, dd)}/2147483648.0 - 1)"
    }.mkString(", ")
    s"round(list_dot_product(emb, [$lits]), 6)"
  }

  /** `red`: vec_id + the dOut-wide reduced vector (depends on $annVCte's
    * `v`). */
  private def rpRedCte(dOut: Int, dim: Int, seed: Int): String = {
    val dots = (0 until dOut).map(rpDotSql(_, dim, seed))
      .mkString(",\n               ")
    s"""red AS (
        SELECT vec_id, [$dots] AS remb
        FROM v)"""
  }

  /** Johnson–Lindenstrauss reduction of the embeddings table to 16
    * dense coordinates ([[graft.ext.Similarity.randomProjection]]),
    * emitted flat (vec_id, dim, value) — the storage/scoring-cost lever
    * before any ANN structure: 4× fewer bytes per vector with
    * JL-bounded geometric distortion, produced by a pure map stage (no
    * shuffle, no training pass). Oracle rebuilds the identical planes
    * from the md5 ints and replays the in-order dot. */
  val rpReduce = Q(
    "ext_rp_reduce",
    (s, d) => Similarity.randomProjection(
      Tables.embeddings(s, d), dOut = 16, dim = 64, seed = 42)
      .select(col("vec_id"), posexplode(col("reduced")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("value")),
    Some(s"""WITH $annVCte,
      ${rpRedCte(16, 64, 42)}
      SELECT vec_id, CAST(i - 1 AS INT) AS dim, remb[CAST(i AS INT)] AS value
      FROM red CROSS JOIN range(1, 17) t(i)"""))

  /** Recall@5 of reduced-space (16-dim) brute-force top-k against the
    * full 64-dim ranking ([[graft.ext.Similarity.rpRecall]]) — the
    * measured price of the JL trade, per query. The oracle replays BOTH
    * rankings (shared bfRanked CTE for the exact side, reconstructed
    * planes for the reduced side) and intersects them, so the recall
    * numbers themselves are hash-gated, not just spec-asserted. */
  val rpRecallQ = Q(
    "ext_rp_recall",
    (s, d) => Similarity.rpRecall(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5,
      dOut = 16, dim = 64, seed = 42),
    Some(s"""WITH $annVCte,
      ${rpRedCte(16, 64, 42)},
      $bfRankedCtes,
      etop AS (
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
      rq AS (
        SELECT vec_id AS query_id, remb AS ra FROM red WHERE vec_id < 8),
      rc AS (
        SELECT vec_id AS neighbor_id, remb AS rb FROM red),
      rscored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(ra, rb)
                 / (sqrt(list_dot_product(ra, ra))
                    * sqrt(list_dot_product(rb, rb))), 6) AS rcos
        FROM rq JOIN rc ON query_id != neighbor_id),
      rranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rcos DESC, neighbor_id ASC) AS rank
        FROM rscored),
      rtop AS (
        SELECT query_id, neighbor_id FROM rranked WHERE rank <= 5)
      SELECT e.query_id,
        count(r.query_id) AS n_hit,
        round(count(r.query_id) / 5.0, 6) AS recall
      FROM etop e LEFT JOIN rtop r
        ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
      GROUP BY e.query_id"""))

  /** nDCG@5 of the brute-force ranking against same-label relevance
    * ([[graft.ext.Retrieval.ndcgAtK]]) — completes the ranking-metric
    * set (recall/precision/MRR in `ext_sim_eval_metrics` ignore WHERE
    * in the top-k a hit lands). The transcendental discounts are
    * computed once in Scala and interpolated into both engines as the
    * same literals; DCG sums them in exact DECIMAL(18,6). */
  val ndcgQ = Q(
    "ext_ndcg_at_k",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val ranked = Similarity.bruteForceTopK(e, col("vec_id") < 8, k = 5)
      val truth = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label"))
        .join(e.select(col("vec_id").as("doc_id"), col("label")), "label")
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      Retrieval.ndcgAtK(ranked, truth, k = 5)
    },
    Some {
      val disc = Retrieval.ndcgDiscounts(5)
      val cum = disc.scanLeft(BigDecimal(0))(_ + _).tail
      val dArr = disc.map(_.toDouble).mkString("[", ", ", "]")
      val cArr = cum.map(_.toDouble).mkString("[", ", ", "]")
      s"""WITH $bfRankedCtes,
      truth AS (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND b.vec_id != a.vec_id
        WHERE a.vec_id < 8),
      nrel AS (
        SELECT query_id, count(*) AS n_relevant FROM truth GROUP BY 1),
      h AS (
        SELECT r.query_id,
          sum(CAST(($dArr)[r.rank] AS DECIMAL(18,6))) AS dcg_dec
        FROM ranked r
        JOIN truth t ON r.query_id = t.query_id
          AND r.neighbor_id = t.doc_id
        WHERE r.rank <= 5 GROUP BY 1)
      SELECT n.query_id, n.n_relevant,
        coalesce(CAST(h.dcg_dec AS DOUBLE), CAST(0 AS DOUBLE)) AS dcg,
        ($cArr)[CAST(least(n.n_relevant, 5) AS INT)] AS idcg,
        round(coalesce(CAST(h.dcg_dec AS DOUBLE), CAST(0 AS DOUBLE))
          / ($cArr)[CAST(least(n.n_relevant, 5) AS INT)], 6) AS ndcg
      FROM nrel n LEFT JOIN h USING (query_id)"""
    })

  /** Sparse TF-IDF cosine top-k ([[graft.ext.Retrieval
    * .sparseCosineTopK]]): doc-to-doc similarity through the
    * inverted-index (term-keyed) join — the lexical twin of the dense
    * ANN family, candidates bounded to docs sharing a surviving term
    * with stop-term pruning (df/N cap; the testdata's 31-word vocab
    * makes nearly every term a stopword, so the registered query runs
    * the permissive 0.9 cap for dense results — production default is
    * 0.5, pruning exercised in RetrievalSpec). Norms and dots go through
    * exact DECIMAL(38,12) sums so join-order float summation cannot
    * break the gate; idf's ln is 6-dp rounded (the Retrieval libm
    * rule). */
  val sparseCosine = Q(
    "ext_sparse_cosine_topk",
    (s, d) => Retrieval.sparseCosineTopK(
      Tables.documents(s, d), "text", "doc_id",
      col("doc_id") < 8, k = 5, maxDfFrac = 0.9),
    Some(s"""WITH tk AS (
        SELECT doc_id,
          unnest(string_split_regex(${wsTrimSql("lower(text)")}, '[ \\t\\n\\x0B\\f\\r]+'))
            AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      st AS (SELECT count(*) AS n_docs FROM documents),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      w AS (
        SELECT tf.doc_id, tf.term,
          CAST(tf.tf AS DOUBLE)
            * round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS w
        FROM tf JOIN dfq USING (term) CROSS JOIN st
        WHERE CAST(df AS DOUBLE) / n_docs <= 0.9),
      nr AS (
        SELECT doc_id,
          sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        FROM w GROUP BY 1),
      wn AS (SELECT w.doc_id, w.term, w.w, nr.nrm
             FROM w JOIN nr USING (doc_id)),
      q AS (SELECT term, doc_id AS q_id, w AS qw, nrm AS q_nrm
            FROM wn WHERE doc_id < 8),
      d AS (SELECT term, doc_id AS d_id, w AS dw, nrm AS d_nrm FROM wn),
      dots AS (
        SELECT q_id, d_id, q_nrm, d_nrm,
          sum(CAST(qw * dw AS DECIMAL(38,12))) AS dot
        FROM d JOIN q USING (term) WHERE q_id != d_id
        GROUP BY 1, 2, 3, 4),
      sc AS (
        SELECT q_id AS query_id, d_id AS neighbor_id,
          round(CAST(dot AS DOUBLE) / (q_nrm * d_nrm), 6) AS cos
        FROM dots),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM sc)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""))

  /** MMR diversified rerank ([[graft.ext.Similarity.mmrRerank]]): per
    * query, greedy `lam·rel − (1−lam)·maxSim-to-selected` selection of
    * 5 from the brute-force top-10 shortlist. The oracle unrolls the
    * greedy loop into k chained MATERIALIZED steps (the ext_bpe_merges
    * precedent): each step anti-joins the already-selected set, takes
    * the max pairwise 6-dp cosine to it, and argmaxes the mixed score
    * with the same (score DESC, neighbor_id ASC) tie order the Scala
    * loop's strict-> comparison over id-sorted candidates produces. */
  val mmrRerankQ = Q(
    "ext_mmr_rerank",
    (s, d) => Similarity.mmrRerank(
      Tables.embeddings(s, d), col("vec_id") < 8, k = 5, m = 10, lam = 0.5),
    Some {
      val steps = (2 to 5).map { t =>
        s"""p$t AS (
        SELECT c.query_id, c.neighbor_id, c.rel,
          max(${annCos("c.b_emb", "s.b_emb")}) AS msim
        FROM cand c
        JOIN sel${t - 1} s ON c.query_id = s.query_id
        LEFT JOIN sel${t - 1} x ON x.query_id = c.query_id
          AND x.neighbor_id = c.neighbor_id
        WHERE x.neighbor_id IS NULL
        GROUP BY 1, 2, 3),
      s$t AS MATERIALIZED (
        SELECT p.query_id, p.neighbor_id, c2.b_emb, p.rel,
          0.5 * p.rel - 0.5 * p.msim AS score, $t AS mmr_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY (0.5 * rel - 0.5 * msim) DESC, neighbor_id) AS r
              FROM p$t) p
        JOIN cand c2 ON c2.query_id = p.query_id
          AND c2.neighbor_id = p.neighbor_id
        WHERE p.r = 1),
      sel$t AS (
        SELECT query_id, neighbor_id, b_emb FROM sel${t - 1}
        UNION ALL SELECT query_id, neighbor_id, b_emb FROM s$t)"""
      }.mkString(",\n      ")
      val finalUnion = (1 to 5).map(t =>
        s"""SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank,
          rel, score FROM s$t""").mkString("\n      UNION ALL ")
      s"""WITH $annVCte,
      cq AS (SELECT vec_id AS query_id, emb AS a_emb FROM v
             WHERE vec_id < 8),
      cc AS (SELECT vec_id AS neighbor_id, emb AS b_emb FROM v),
      sc AS (
        SELECT query_id, neighbor_id, b_emb,
          ${annCos("a_emb", "b_emb")} AS rel
        FROM cq JOIN cc ON query_id != neighbor_id),
      cand AS MATERIALIZED (
        SELECT query_id, neighbor_id, b_emb, rel FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, neighbor_id) AS r
          FROM sc) t WHERE r <= 10),
      s1 AS MATERIALIZED (
        SELECT query_id, neighbor_id, b_emb, rel, rel AS score,
          1 AS mmr_rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, neighbor_id) AS r
          FROM cand) t WHERE r = 1),
      sel1 AS (SELECT query_id, neighbor_id, b_emb FROM s1),
      $steps
      $finalUnion"""
    })

  /** Shared CTE chain for sign-bucket cosine candidate pairs (4-bit
    * buckets; `p` exposes id_a/id_b with a_emb/b_emb) — used by the
    * embedding-cosine and semantic-dedup oracles so the candidate
    * generation cannot drift between them. */
  private def cosinePairsCte: String = s"""b AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               a.emb AS a_emb, b2.emb AS b_emb
        FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id)"""

  val cosineNearDup = Q(
    "ext_dedup_embedding_cosine",
    (s, d) => Similarity.cosineNearDups(Tables.embeddings(s, d), 0.5, bits = 4),
    Some(s"""WITH $cosinePairsCte
      SELECT id_a, id_b, $dkCos AS cos FROM p
      WHERE $dkCos >= 0.5"""))

  /** SemDeDup ([[graft.ext.Similarity.semanticDedup]]): cosine ≥ 0.5
    * pairs → connected components → one representative per component.
    * The oracle replays candidate pairs through the SAME shared CTE and
    * takes the min reachable id via a recursive-CTE closure (the exact
    * fixpoint the iterative min-label propagation converges to). */
  val semanticDedup = Q(
    "ext_dedup_semantic",
    (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d), 0.5, bits = 4),
    Some(s"""WITH RECURSIVE $cosinePairsCte,
      prs AS (SELECT id_a, id_b FROM p WHERE $dkCos >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM prs
                UNION ALL SELECT id_b, id_a FROM prs),
      reach(a, b) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS vec_id, min(b) AS rep_id, (a = min(b)) AS keep
      FROM reach GROUP BY a"""))

  /** IVF ANN, oracle-checked end to end: deterministic seed centroids
    * ([[graft.ext.IvfIndex.seedModel]] — the 8 vectors with smallest
    * md5(vec_id)) + 6-dp-ranked assignment/probing
    * ([[graft.ext.IvfIndex.searchDeterministic]]). The DuckDB oracle
    * rebuilds the identical centroid set and replays assign → probe →
    * score → top-k hash-exactly. The ml.KMeans-trained variant (engine-
    * internal iterations) remains the quality path, covered by ExtSpec
    * recall checks and exercised via `ext_sim_ivfpq_topk`. */
  val simIvf = Q(
    "ext_sim_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ext.IvfIndex.seedModel(emb, nlist = 8)
      graft.ext.IvfIndex.searchDeterministic(emb, model,
        col("vec_id") < 8, k = 5, nprobe = 2)
    },
    Some(s"""WITH $annVCte,
      ${ivfAssignCtes(8)},
      probes AS (
        SELECT vec_id, idx AS cluster FROM rsims
        WHERE rk <= 2 AND vec_id < 8),
      scored AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          ${annCos("q.emb", "n.emb")} AS cos
        FROM probes p
        JOIN assign a ON a.cluster = p.cluster AND a.vec_id != p.vec_id
        JOIN v q ON q.vec_id = p.vec_id
        JOIN v n ON n.vec_id = a.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored WHERE cos IS NOT NULL)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= 5"""))

  /** The PERSISTED IVF index probed from disk (r13 VERDICT stretch):
    * the same seed centroids and deterministic search as
    * `ext_sim_ivf_topk`, but the index lives as an
    * [[graft.ext.ArchiveIndex]]-lifecycle artifact — centroid +
    * assignment tables written bucket-partitioned (vec table bucketed
    * on `cluster`, the probe key), GROWN incrementally (odd vec_ids
    * appended against the committed centroids — the dedup archive's
    * day-N semantics applied to retrieval), compacted to the packed
    * floor, then searched with the probed clusters' buckets as the
    * ONLY assignment partitions read. The oracle is
    * `ext_sim_ivf_topk`'s VERBATIM: hash-equality proves the full
    * write → grow → compact → bucket-pruned probe lifecycle is
    * row-identical to the session-frame search. */
  val simIvfDisk = Q(
    "ext_sim_ivf_disk_topk",
    (s, d) => {
      import graft.ext.IvfIndex
      val emb = Tables.embeddings(s, d)
      val model = IvfIndex.seedModel(emb, nlist = 8)
      Scratch("graft-ivfdisk") { base =>
        IvfIndex.writeIndex(emb.filter(col("vec_id") % 2 === 0), model,
          base, nBuckets = 8)
        IvfIndex.appendVectors(emb.filter(col("vec_id") % 2 === 1), base)
        IvfIndex.compactIndex(s, base)
        IvfIndex.searchOnDisk(s, base, col("vec_id") < 8, k = 5, nprobe = 2)
      }
    },
    simIvf.oracle)

  /** STREAMING grow twin of the persisted IVF index
    * ([[graft.streaming.StreamPipeline.ivfGrowAvailableNow]] carries
    * the lifecycle): seed quarter written, three quarter-waves
    * appended per micro-batch through the manifest CAS commit with a
    * compaction after each, probed ON DISK after the drain —
    * `ext_sim_ivf_topk`'s oracle VERBATIM, so hash-equality proves
    * stream-grown ≡ batch-grown ≡ session-frame search. */
  val simIvfStreamGrow = Q(
    "q_stream_ivf_grow",
    (s, d) => graft.streaming.StreamPipeline.ivfGrowAvailableNow(s, d),
    simIvf.oracle)

  /** PQ ANN, oracle-checked end to end: deterministic seed codebooks
    * ([[graft.ext.PqIndex.seedModel]] — subvectors of the 32 md5-smallest
    * vectors) drive the NATIVE encode/LUT kernels
    * ([[graft.functions.PqOps]]) and the ADC → oversample → exact-re-rank
    * pipeline. Every floating-point step is a fixed left-assoc double
    * chain on both engines (codebook norms, |c|²−2·dot argmin with
    * first-min tie, LUT term sum), so the DuckDB oracle replays the full
    * pipeline hash-exactly — the codegen'd kernels themselves are under
    * the oracle gate. The per-subspace k-means variant
    * ([[graft.ext.PqIndex.train]]) stays the quality path (ExtSpec
    * recall; exercised via `ext_sim_ivfpq_topk`). */
  val simPq = Q(
    "ext_sim_pq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = PqIndex.seedModel(emb, dim = 64, m = 8, k = 32)
      PqIndex.search(emb, model, col("vec_id") < 8, k = 5, oversample = 8)
    },
    Some(s"""WITH $annVCte,
      $pqEncodeCtes,
      cand AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          $pqAdcCos AS cos
        FROM v q JOIN encw e ON e.vec_id != q.vec_id
        WHERE q.vec_id < 8),
      ${pqShortlistTail(shortK = 40, k = 5)}"""))

  /** IVFPQ ANN, oracle-checked end to end — the composed FAISS shape
    * with BOTH stages deterministic: seed centroids prune to `nprobe`
    * cells, seed-codebook ADC scores the survivors' codes, the
    * oversampled shortlist re-ranks exactly. The oracle chains the
    * `ext_sim_ivf_topk` assignment CTEs with the `ext_sim_pq_topk`
    * encode CTEs and replays the whole thing hash-exactly. The k-means
    * variants stay the quality path ([[graft.ext.PqIndex.searchWithIvf]],
    * ExtSpec). */
  val simIvfPq = Q(
    "ext_sim_ivfpq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val ivf = graft.ext.IvfIndex.seedModel(emb, nlist = 8)
      val pq = PqIndex.seedModel(emb, dim = 64, m = 8, k = 32)
      PqIndex.searchWithIvfDeterministic(emb, ivf, pq, col("vec_id") < 8,
        k = 5, nprobe = 3, oversample = 8)
    },
    Some(s"""WITH $annVCte,
      ${ivfAssignCtes(8)},
      probes AS (
        SELECT vec_id, idx AS cluster FROM rsims
        WHERE rk <= 3 AND vec_id < 8),
      $pqEncodeCtes,
      cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          $pqAdcCos AS cos
        FROM probes p
        JOIN assign a ON a.cluster = p.cluster AND a.vec_id != p.vec_id
        JOIN v q ON q.vec_id = p.vec_id
        JOIN encw e ON e.vec_id = a.vec_id),
      ${pqShortlistTail(shortK = 40, k = 5)}"""))

  /** Cluster-balanced subsample
    * ([[graft.ext.IvfIndex.clusterBalancedSample]]): at most 40 vectors
    * per deterministic Voronoi cell (the [[graft.ext.IvfIndex.seedModel]]
    * cells of `ext_sim_ivf_topk`), drawn by a 52-bit md5 coin — the
    * diversity-preserving downsampling pass of a curation pipeline. The
    * oracle replays cell assignment via the shared seed-centroid CTEs,
    * then QUALIFY-caps each cell ordering by the same md5 prefix. */
  val clusterBalanced = Q(
    "ext_cluster_balanced_sample",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ext.IvfIndex.seedModel(emb, nlist = 8)
      graft.ext.IvfIndex.clusterBalancedSample(emb, model, cap = 40)
    },
    Some(s"""WITH $annVCte,
      ${ivfAssignCtes(8)},
      sel AS (
        SELECT cluster, vec_id,
          row_number() OVER (PARTITION BY cluster
            ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT,
                     vec_id) AS rank
        FROM assign)
      SELECT cluster, vec_id, CAST(rank AS INT) AS rank
      FROM sel WHERE rank <= 40"""))

  val simCentroids = Q(
    "ext_label_centroids",
    (s, d) => Similarity.labelCentroids(Tables.embeddings(s, d)),
    // decimal-sum mean (see labelCentroids) makes the float average
    // order-insensitive, so it oracle-checks like any money column; the
    // testdata embedding width (64, TESTDATA.md) is a literal because
    // DuckDB 1.0's range() cannot take lateral column arguments
    Some("""SELECT label, CAST(i - 1 AS INT) AS dim,
        round(CAST(sum(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
            AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS centroid_v
      FROM embeddings CROSS JOIN range(1, 65) t(i)
      WHERE i <= len(embedding)
      GROUP BY label, i"""))

  // ---- multimodal plumbing -------------------------------------------------

  val mmMeta = Q(
    "ext_multimodal_meta",
    (s, d) => Multimodal.withPayloadMeta(
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.asPayload(col("text")).as("payload")),
      "payload")
      .select(col("doc_id"), col("byte_len"), col("digest"), col("head_hex")),
    // BYTE semantics on both sides (Spark computes over the binary
    // payload): octet_length / first-4-BYTES hex, not character ops —
    // equal on ASCII but the oracle must encode the true contract
    Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
      md5(text) AS digest,
      lower(left(hex(encode(text)), 8)) AS head_hex
      FROM documents"""))

  val mmFeatures = Q(
    "ext_multimodal_features",
    (s, d) => {
      val withF = Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.decodeFeatures(
            Multimodal.asPayload(col("text"))).as("f"))
      withF.select(col("doc_id"),
        element_at(col("f"), 1).as("f0"), element_at(col("f"), 2).as("f1"),
        element_at(col("f"), 3).as("f2"), element_at(col("f"), 4).as("f3"))
    },
    Some {
      def f(i: Int) =
        s"""round(CAST(('0x' || substring(md5(text), ${i * 8 + 1}, 8)) AS BIGINT)
           / 4294967296.0, 6) AS f$i"""
      s"SELECT doc_id, ${(0 until 4).map(f).mkString(", ")} FROM documents"
    })

  /** Resize / block-mean pooling ([[graft.ext.Multimodal.resizePooled]]):
    * payload byte grid pooled to 16 buckets. Both engines index the SAME
    * byte sequence via its hex rendering (hex(payload) / hex(encode(text))
    * — DuckDB 1.0 has no BLOB substring, but hex-pair slicing is
    * byte-exact for any encoding, no ASCII pinning needed).
    *
    * The pooled vector is emitted as a comma-joined FIXED-POINT string
    * (round(mean·1e6) per cell, 'n' for empty cells), not an array
    * column: the driver's compare sorts result values through pandas,
    * which cannot hash ndarray cells. The 6-dp means are within 1e-4 of
    * an integer after ·1e6, so the final round is exact on both engines
    * (identical IEEE doubles, never near a .5 tie). */
  val mmResize = Q(
    "ext_multimodal_resize",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        Multimodal.asPayload(col("text")).as("payload"))
      .select(col("doc_id"),
        length(col("payload")).as("byte_len"),
        concat_ws(",",
          transform(Multimodal.resizePooled(col("payload"), 16),
            v => coalesce(
              round(v * Multimodal.pooledFpScale).cast("long")
                .cast("string"), lit("n"))))
          .as("pooled_fp")),
    Some(s"""WITH h AS (
        SELECT doc_id, hex(encode(text)) AS hx,
          octet_length(encode(text)) AS n
        FROM documents)
      SELECT doc_id, n AS byte_len,
        array_to_string(list_transform(generate_series(0, 15), j ->
          coalesce(CASE WHEN ((j + 1) * n) // 16 > (j * n) // 16 THEN
            CAST(round(round(list_sum(list_transform(
              generate_series((j * n) // 16 + 1, ((j + 1) * n) // 16),
              p -> ('0x' || substring(hx, 2 * p - 1, 2))::INT))
              / CAST(((j + 1) * n) // 16 - (j * n) // 16 AS DOUBLE),
              ${Multimodal.pooledRoundDp})
              * ${Multimodal.pooledFpScale}) AS BIGINT)::VARCHAR
          END, 'n')), ',') AS pooled_fp
      FROM h"""))

  /** Perceptual-hash near-dup pairs ([[Multimodal.phashPairs]]): aHash
    * over the payload byte grid (global-byte-mean threshold — exact
    * integer sum, no fold-order float risk), two 8-bit bands for
    * candidates, Hamming ≤ 3 verification on collisions only. The
    * multimodal twin of the SimHash pair miner. */
  val mmPhash = Q(
    "ext_multimodal_phash_pairs",
    (s, d) => Multimodal.phashPairs(
      Tables.documents(s, d).select(col("doc_id"),
        Multimodal.asPayload(col("text")).as("payload")),
      "doc_id", "payload", k = 16, maxHamming = 3),
    Some("""WITH h AS (
        SELECT doc_id, hex(encode(text)) AS hx,
          octet_length(encode(text)) AS n
        FROM documents),
      sig AS (
        SELECT doc_id,
          CASE WHEN n > 0 THEN
            CAST(list_sum(list_transform(generate_series(0, 15), j ->
              CASE WHEN (CASE WHEN ((j + 1) * n) // 16 > (j * n) // 16 THEN
                round(list_sum(list_transform(
                  generate_series((j * n) // 16 + 1, ((j + 1) * n) // 16),
                  p -> ('0x' || substring(hx, 2 * p - 1, 2))::INT))
                  / CAST(((j + 1) * n) // 16 - (j * n) // 16 AS DOUBLE), 6)
                END)
                >= round(list_sum(list_transform(generate_series(1, n),
                    p -> ('0x' || substring(hx, 2 * p - 1, 2))::INT))
                  / CAST(n AS DOUBLE), 6)
              THEN CAST(pow(2, 15 - j) AS BIGINT) ELSE 0 END)) AS BIGINT)
          ELSE 0 END AS ph
        FROM h),
      bands AS (
        SELECT doc_id, ph, 0 AS band, ph // 256 AS bv FROM sig
        UNION ALL
        SELECT doc_id, ph, 1 AS band, ph % 256 AS bv FROM sig),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          a.ph AS ph_a, b.ph AS ph_b
        FROM bands a JOIN bands b USING (band, bv)
        WHERE a.doc_id < b.doc_id)
      SELECT id_a, id_b,
        CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3"""))

  /** dHash near-dup pairs ([[Multimodal.dHashPairs]]): the GRADIENT-SIGN
    * perceptual fingerprint (the LAION-style image-dedup stage), 4×16-bit
    * bands, Hamming ≤ 3 verification on band collisions only. Testdata
    * has no re-encoded media, so the query constructs the re-encode
    * analogue in-flight: each doc appears twice — original payload and an
    * alignment-preserving byte perturbation (every 'e' → 'f', the
    * pixel-noise analogue that nudges block means without shifting the
    * byte grid). Measured at sf0.001: ALL 500 perturbed twins land at
    * Hamming ≤ 3 while the nearest cross-doc pair sits at 13 — the sharp
    * dup/non-dup separation the gradient fingerprint exists for. */
  val mmDhash = Q(
    "ext_multimodal_dhash_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = docs
        .select((col("doc_id") * 2).as("id"), col("text"))
        .unionAll(docs.select((col("doc_id") * 2 + 1).as("id"),
          translate(col("text"), "e", "f").as("text")))
      Multimodal.dHashPairs(
        variants.select(col("id"),
          Multimodal.asPayload(col("text")).as("payload")),
        "id", "payload", bands = 4, bandBits = 16, maxHamming = 3)
    },
    Some("""WITH v AS (
        SELECT doc_id * 2 AS id, text FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1 AS id, replace(text, 'e', 'f') AS text
        FROM documents),
      h AS (
        SELECT id, hex(encode(text)) AS hx,
          octet_length(encode(text)) AS n
        FROM v),
      p AS (
        SELECT id, list_transform(generate_series(0, 64), j ->
          CASE WHEN ((j + 1) * n) // 65 > (j * n) // 65 THEN
            round(list_sum(list_transform(
              generate_series((j * n) // 65 + 1, ((j + 1) * n) // 65),
              q -> ('0x' || substring(hx, 2 * q - 1, 2))::INT))
              / CAST(((j + 1) * n) // 65 - (j * n) // 65 AS DOUBLE), 6)
          END) AS cells
        FROM h),
      g AS (
        SELECT id, list_transform(generate_series(0, 63), i ->
          CASE WHEN coalesce(cells[i + 2], 0.0) > coalesce(cells[i + 1], 0.0)
            THEN 1 ELSE 0 END) AS grads
        FROM p),
      sig AS MATERIALIZED (
        SELECT id, list_transform(generate_series(0, 3), b ->
          CAST(list_sum(list_transform(generate_series(0, 15), j ->
            grads[b * 16 + j + 1] * CAST(pow(2, 15 - j) AS BIGINT)))
            AS BIGINT)) AS bvs
        FROM g),
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

  // The operator slices the payload by BYTES (it is binary); the oracle
  // can only slice VARCHAR by characters (DuckDB 1.0 has no BLOB
  // substring), so the text-derived payload is pinned to ASCII first —
  // bytes ≡ chars on both engines for ANY corpus, not just ASCII ones.
  val mmFrames = Q(
    "ext_multimodal_frames",
    (s, d) => Multimodal.explodeFrames(
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.asPayload(
          regexp_replace(col("text"), "[^\\x00-\\x7F]", "")).as("payload")),
      "doc_id", "payload", chunkLen = 32, stride = 64, maxChunks = 4)
      .select(col("doc_id"), col("frame_idx"), col("frame_digest"),
        element_at(col("frame_features"), 1).as("f0"),
        element_at(col("frame_features"), 2).as("f1"),
        element_at(col("frame_features"), 3).as("f2"),
        element_at(col("frame_features"), 4).as("f3")),
    Some {
      def f(i: Int) =
        s"""round(CAST(('0x' || substring(md5(chunk), ${i * 8 + 1}, 8)) AS BIGINT)
           / 4294967296.0, 6) AS f$i"""
      s"""WITH a AS (
          SELECT doc_id,
            regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
          FROM documents),
        fr AS (
          SELECT doc_id, CAST(i AS INT) AS frame_idx,
            substring(text, CAST(i * 64 + 1 AS INT), 32) AS chunk
          FROM a CROSS JOIN range(0, 4) t(i)
          WHERE length(substring(text, CAST(i * 64 + 1 AS INT), 32)) > 0)
        SELECT doc_id, frame_idx, md5(chunk) AS frame_digest,
          ${(0 until 4).map(f).mkString(", ")}
        FROM fr"""
    })

  /** Trained trigram language ID ([[TextStats.trainTrigramProfiles]] +
    * [[TextStats.langIdTrigram]]): profiles are learned from the labeled
    * corpus itself (top-50 document-frequent trigrams per language),
    * broadcast, and applied as a set-overlap argmax — a real train/apply
    * pipeline, unlike the fixed-stopword heuristic it supersedes, and
    * fully oracle-checked (deterministic counts, rank tie-breaks on
    * trigram/lang ascending). */
  val langidTrigram = Q(
    "ext_langid_trigram",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val profiles = TextStats.trainTrigramProfiles(docs, "text", "lang", 50)
      TextStats.langIdTrigram(docs, "text", "doc_id", profiles)
    },
    Some("""WITH nt AS (
        SELECT doc_id, lang,
          regexp_replace(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
        FROM documents),
      tg AS (
        SELECT doc_id, lang, unnest(list_distinct(list_transform(
          range(1, greatest(length(nt) - 1, 1)),
          i -> substring(nt, CAST(i AS INT), 3)))) AS tg
        FROM nt),
      prof AS (
        SELECT lang, tg,
          row_number() OVER (PARTITION BY lang
            ORDER BY count(*) DESC, tg) AS rank
        FROM tg GROUP BY lang, tg
        QUALIFY rank <= 50),
      sc AS (
        SELECT t.doc_id, p.lang, count(*) AS score
        FROM tg t JOIN prof p ON t.tg = p.tg
        GROUP BY t.doc_id, p.lang),
      best AS (
        SELECT doc_id, lang, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rn
        FROM sc)
      SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_pred,
        coalesce(b.score, 0) AS score
      FROM documents d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)"""))

  // ---- sketches ------------------------------------------------------------

  /** KMV distinct-count sketch ([[graft.functions.KmvAgg]]) next to the
    * exact count it approximates: per language, estimate the number of
    * distinct texts from the 128 smallest md5-hash values. Reproducible
    * across engines by construction — the DuckDB oracle computes the
    * SAME sketch (k smallest distinct hashes) and the SAME `(k-1)/U(k)`
    * estimator, so even the approximation hash-matches exactly. At scale
    * this replaces a full `count(DISTINCT text)` shuffle of every text
    * with k longs per (group, partition). */
  val kmvDistinct = Q(
    "ext_kmv_distinct",
    (s, d) => {
      val k = 128
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          graft.functions.KmvAgg.kmv_sketch(
            TextDedup.baseHash(col("text")), k).as("sk"),
          countDistinct(col("text")).as("exact_distinct"))
        .select(col("lang"),
          graft.ops.IncrementalAgg.kmvEstimate(col("sk"), k)
            .as("kmv_distinct"),
          col("exact_distinct"))
    },
    Some("""WITH h AS (
        SELECT DISTINCT lang,
          ('0x' || substring(md5(text), 1, 8))::BIGINT AS hv
        FROM documents),
      r AS (
        SELECT lang, hv,
          row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
          count(*) OVER (PARTITION BY lang) AS nd
        FROM h),
      e AS (
        SELECT lang, max(nd) AS nd,
          max(CASE WHEN rn = 128 THEN hv END) AS hk
        FROM r GROUP BY lang),
      x AS (
        SELECT lang, count(DISTINCT text) AS exact_distinct
        FROM documents GROUP BY lang)
      SELECT e.lang,
        CASE WHEN e.nd < 128 THEN CAST(e.nd AS DOUBLE)
             ELSE round(127.0 / ((e.hk + 1) / 4294967296.0), 6)
        END AS kmv_distinct,
        x.exact_distinct
      FROM e JOIN x USING (lang)"""))

  /** Per-source n-gram diversity ([[TextStats.ngramDiversity]]):
    * unigram/bigram type-token ratios — the boilerplate-flood detector
    * (per-doc gates can all pass while a source repeats one template;
    * its TTR collapses). Exact distinct counts in both engines. */
  val ngramDiversity = Q(
    "ext_ngram_diversity",
    (s, d) => TextStats.ngramDiversity(
      Tables.documents(s, d), "text", "source"),
    Some("""WITH t AS (
        SELECT source,
          string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
        FROM documents),
      u AS (
        SELECT source, count(*) AS n_tokens,
          count(DISTINCT tok) AS n_unigrams
        FROM (SELECT source, unnest(tk) AS tok FROM t) GROUP BY source),
      bp AS (
        SELECT source, tk[i] || ' ' || tk[i + 1] AS bg
        FROM (SELECT source, tk, unnest(range(1, len(tk))) AS i FROM t)),
      b AS (
        SELECT source, count(*) AS n_bigrams_total,
          count(DISTINCT bg) AS n_bigrams
        FROM bp GROUP BY source)
      SELECT u.source, n_tokens, n_unigrams,
        coalesce(n_bigrams_total, 0) AS n_bigrams_total,
        coalesce(n_bigrams, 0) AS n_bigrams,
        round(CAST(n_unigrams AS DOUBLE) / n_tokens, 6) AS ttr_unigram,
        CASE WHEN coalesce(n_bigrams_total, 0) > 0 THEN
          round(CAST(n_bigrams AS DOUBLE) / n_bigrams_total, 6)
        ELSE NULL END AS ttr_bigram
      FROM u LEFT JOIN b ON u.source = b.source"""))

  /** Missing-value imputation ([[graft.ops.Impute]]): deterministic
    * holes are punched into the orders snapshot (every 13th key loses
    * its price, every 17th its priority — the oracle replays the same
    * corruption), then the price holes fill with the per-status MEAN
    * (exact-decimal, 6-dp) and the priority holes with the per-status
    * MODE (windowless struct-max election), every filled cell flagged
    * INT 0/1. Row-grained output so the oracle checks each fill, not
    * just the fill values. */
  val imputeMissing = Q(
    "ext_impute_missing",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 13 === 1, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"),
        when(col("o_orderkey") % 17 === 2, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio"))
      val filled = graft.ops.Impute.modeFill(
        graft.ops.Impute.meanFill(o, "price", Seq("o_orderstatus")),
        "prio", Seq("o_orderstatus"))
      filled.select(col("o_orderkey"), col("o_orderstatus"),
        col("price"), col("price_filled"), col("price_imputed"),
        col("prio"), col("prio_filled"), col("prio_imputed"))
    },
    Some("""WITH o AS (
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey % 13 = 1 THEN NULL
               ELSE o_totalprice END AS price,
          CASE WHEN o_orderkey % 17 = 2 THEN NULL
               ELSE o_orderpriority END AS prio
        FROM orders),
      m AS (
        SELECT o_orderstatus,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
            / count(price), 6) AS price_fill
        FROM o GROUP BY 1),
      pc AS (
        SELECT o_orderstatus, prio, count(*) AS c
        FROM o WHERE prio IS NOT NULL GROUP BY 1, 2),
      md AS (
        SELECT o_orderstatus,
          (max(struct_pack(c := c, v := prio))).v AS prio_fill
        FROM pc GROUP BY 1)
      SELECT o_orderkey, o.o_orderstatus, price,
        coalesce(price, price_fill) AS price_filled,
        CASE WHEN price IS NULL THEN 1 ELSE 0 END AS price_imputed,
        prio, coalesce(prio, prio_fill) AS prio_filled,
        CASE WHEN prio IS NULL THEN 1 ELSE 0 END AS prio_imputed
      FROM o
      JOIN m USING (o_orderstatus)
      LEFT JOIN md USING (o_orderstatus)"""))

  /** Incremental-ETL merge ([[graft.ops.IncrementalAgg]]): orders are
    * split into two "epochs" (o_orderkey parity — the stand-in for
    * daily partitions), per-(status, epoch) PARTIAL states are computed,
    * then folded per status. The oracle computes the same report
    * DIRECTLY from the raw table, so the green hash PROVES
    * merge(partials) ≡ recompute: counts/min/max associative, sums
    * exact via DECIMAL partials, distinct via lossless KMV sketch
    * union. At 100 TB this is the difference between scanning one day
    * and scanning all history for a daily rollup. */
  val aggMerge = Q(
    "ext_agg_merge_incremental",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderstatus"), col("o_totalprice").as("v"),
        TextDedup.baseHash(col("o_custkey").cast("string")).as("ch"),
        (col("o_orderkey") % 2).as("epoch"))
      val p = graft.ops.IncrementalAgg.partials(
        o, Seq("o_orderstatus"), "epoch", "v", "ch", k = 128)
      graft.ops.IncrementalAgg.merge(p, Seq("o_orderstatus"), k = 128)
    },
    Some("""WITH h AS (
        SELECT DISTINCT o_orderstatus,
          ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
            AS hv
        FROM orders),
      r AS (
        SELECT o_orderstatus, hv,
          row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn,
          count(*) OVER (PARTITION BY o_orderstatus) AS nd
        FROM h),
      e AS (
        SELECT o_orderstatus, max(nd) AS nd,
          max(CASE WHEN rn = 128 THEN hv END) AS hk
        FROM r GROUP BY 1),
      s AS (
        SELECT o_orderstatus, count(*) AS n_rows,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
          min(o_totalprice) AS v_min, max(o_totalprice) AS v_max
        FROM orders GROUP BY 1)
      SELECT s.o_orderstatus, n_rows, total, v_min, v_max,
        CASE WHEN e.nd < 128 THEN CAST(e.nd AS DOUBLE)
             ELSE round(127.0 / ((e.hk + 1) / 4294967296.0), 6)
        END AS kmv_distinct
      FROM s JOIN e USING (o_orderstatus)"""))

  /** Deterministic per-group sampling: the 5 rows with the smallest
    * md5(doc_id) per source — a seeded uniform sample that is stable
    * across runs, engines, and cluster layouts (unlike `TABLESAMPLE` /
    * `rand()`), so downstream eval sets are reproducible. Reuses the
    * bounded-heap [[graft.functions.TopKAgg]] (negated hash = bottom-k):
    * map-side partial top-k, no per-group window funnel. */
  val detSample = Q(
    "ext_det_sample",
    (s, d) => Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.top_k(
        (lit(0L) - TextDedup.baseHash(col("doc_id").cast("string")))
          .cast("double"),
        col("doc_id"), 5).as("picks"))
      .select(col("source"), explode(col("picks")).as("p"))
      .select(col("source"), col("p.rank").as("rank"),
        col("p.id").as("doc_id")),
    Some("""SELECT source, CAST(rn AS INT) AS rank, doc_id FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
              doc_id) AS rn
        FROM documents) t WHERE rn <= 5"""))

  /** Grouped mergeable quantile sketch ([[graft.ext.Sketches
    * .histogramQuantiles]]): per-source p50/p90/p99 of token length
    * from a width-8 equi-width histogram with inverse-CDF
    * interpolation — quantiles of a 100 TB column for the price of a
    * word-count (one hash agg on (source, bucket); the cumulative
    * window runs over buckets, never rows). Estimate error is bounded
    * by the bucket width (spec-pinned vs the exact quantile); the
    * oracle replays the identical histogram + interpolation, so the
    * ESTIMATES are hash-gated. */
  val quantileSketch = Q(
    "ext_quantile_sketch",
    (s, d) => Sketches.histogramQuantiles(
      Tables.documents(s, d),
      TextStats.tokenCount(col("text")), "source",
      width = 8, qs = Seq(0.5, 0.9, 0.99)),
    Some(s"""WITH t AS (
        SELECT source, CAST($qcTokSql AS BIGINT) AS v FROM documents),
      h AS (
        SELECT source, v - (v % 8) AS bucket, count(*) AS cnt
        FROM t GROUP BY 1, 2),
      c AS (
        SELECT source, bucket, cnt,
          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket)
            AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM h),
      x AS (
        SELECT source, q, n, bucket, cnt, cum,
          CAST(q AS DOUBLE) * n AS target,
          row_number() OVER (PARTITION BY source, q ORDER BY bucket) AS rn
        FROM c CROSS JOIN (
          SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
            CAST(0.99 AS DOUBLE)]) AS q) qq
        WHERE cum >= CAST(q AS DOUBLE) * n)
      SELECT source, q, n,
        round(bucket + 8 * (target - (cum - cnt)) / cnt, 6) AS est
      FROM x WHERE rn = 1"""))

  /** Stratified sample with EXACT total size ([[graft.ext.Curation
    * .stratifiedSample]]): 97 slots allocated across sources by
    * largest-remainder (Hamilton) rounding — pure integer quota
    * arithmetic, md5-priority selection inside each stratum via the
    * bounded-heap top-k (k = total-n map-side partials, no per-stratum
    * window funnel). Fraction sampling only hits a target size in
    * expectation; eval sets and fixed-budget orders need the exact
    * count. n = 97 is deliberately non-divisible so the remainder
    * ranking (and its group-asc tie-break — the testdata's strata are
    * all equal-sized) is what the hash gate checks. */
  val stratifiedSample = Q(
    "ext_stratified_sample",
    (s, d) => Curation.stratifiedSample(
      Tables.documents(s, d), "doc_id", "source", n = 97),
    Some("""WITH s AS (
        SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
      tot AS (SELECT sum(cnt) AS n_tot FROM s),
      a0 AS (
        SELECT source, cnt, (97 * cnt) // n_tot AS base,
          (97 * cnt) % n_tot AS rem
        FROM s CROSS JOIN tot),
      lr AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rr
        FROM a0),
      lo AS (SELECT 97 - sum(base) AS leftover FROM a0),
      al AS (
        SELECT source,
          base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
        FROM lr CROSS JOIN lo),
      r AS (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
              doc_id) AS rank
        FROM documents)
      SELECT r.source, r.doc_id, CAST(r.rank AS INT) AS rank,
        CAST(al.quota AS BIGINT) AS quota
      FROM r JOIN al USING (source) WHERE r.rank <= al.quota"""))

  /** Flagship LLM-corpus cleaning pipeline end-to-end, every stage a
    * first-class operator from this module composed the way a real
    * training-data run chains them:
    *
    *   language filter → token-count filter → exact dedup (keep-first by
    *   fingerprint) → MinHash-LSH near-dup pairs → connected components
    *   → keep each component's representative.
    *
    * The corpus is salted deterministically with exact copies (caught by
    * stage 3) and tail-appended near-copies (jaccard ≈ 0.9 — caught by
    * stages 4-5), so every dedup stage is load-bearing for the hash to
    * match. The oracle replays all six stages in DuckDB, including the
    * LSH banding and a recursive-CTE transitive closure. */
  val llmCorpus = Q(
    "llm_corpus_pipeline_e2e",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
      val dupCopies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"))
      val nearCopies = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" tail marker token")).as("text"),
          col("lang"))
      // NOTE(r14 opt): a repartition spread of this union (the
      // dupNgramCoverage pattern) was tried and REGRESSED the warm
      // bench 1.38× — the 3-task fingerprint stage it targeted is
      // cold-JIT-only, and the extra exchange plus the lost semi-join
      // pushdown through the union cost more than the width bought.
      // Reverted; left as measured evidence.
      val corpus = docs.unionByName(dupCopies).unionByName(nearCopies)
      // persisted (r15): `filtered` — the union + tokenize + language
      // gate — feeds BOTH the exact-dedup fingerprint aggregate and the
      // survivors' semi-join fill; uncached it computed twice (two full
      // tokenize passes of the corpus, 44 jobs/rep warm at sf0.1)
      val filtered = graft.ops.CacheScope.persist(corpus
        .withColumn("n_tokens", TextStats.tokenCount(col("text")))
        .filter(col("lang") === "en" && col("n_tokens") >= 30))
      val firsts = TextDedup.exactDedup(filtered, "text", "doc_id")
        .select(col("representative_id").as("doc_id"))
      val survivors = graft.ops.CacheScope.persist(
        filtered.join(firsts, Seq("doc_id"), "left_semi"))
      val pairs = TextDedup.minhashNearDups(survivors, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      val labels = TextDedup.connectedComponents(survivors, "doc_id", pairs)
      survivors.join(labels, Seq("doc_id"))
        .filter(col("rep_id") === col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    },
    Some(s"""WITH RECURSIVE corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text, lang FROM documents
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 2000000, text || ' tail marker token', lang
        FROM documents WHERE doc_id % 11 = 0),
      filtered AS (
        SELECT doc_id, text, lang,
          len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens
        FROM corpus
        WHERE lang = 'en'
          AND len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) >= 30),
      firsts AS (
        SELECT min(doc_id) AS doc_id FROM filtered
        GROUP BY ${fpSql()}),
      survivors AS (
        SELECT f.* FROM filtered f JOIN firsts USING (doc_id)),
      ${minhashCteBodyFrom("survivors")},
      pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM survivors
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a)
      SELECT s.doc_id, s.lang, s.n_tokens
      FROM survivors s JOIN labels l USING (doc_id)
      WHERE l.rep = s.doc_id"""),
    bench = true)

  /** Shared Spark side for the classifier-eval queries: hashed-trick
    * scores joined to a reference label (Gopher gates re-thresholded to
    * this corpus's signal range: words >= 50 splits at the median,
    * stop_hits >= 1 is the attainable stopword gate). */
  private def evalScoredLabeled(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    val scored = graft.ext.TextStats
      .hashedLinearScore(docs, "text", "doc_id")
      .select(col("doc_id"), col("score"))
    val labels = graft.ext.TextStats
      .gopherGates(docs, "text", "doc_id", minStopwordHits = 1)
      .select(col("doc_id"), col("keep").as("pos"))
    scored.join(labels, Seq("doc_id"))
  }

  /** Oracle CTEs producing (doc_id, score) and (doc_id, pos) — the SQL
    * mirrors of [[evalScoredLabeled]], reusing the verified
    * `ext_quality_classifier` / `ext_gopher_gates` expression shapes. */
  private def evalScoreLabelCtes: String = {
    val stopList = graft.ext.TextStats.gopherStopwords
      .map(w => s"'$w'").mkString(",")
    s"""toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents),
      grams AS (
        SELECT doc_id, unnest(t) AS gram FROM toks
        UNION ALL
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 1),
            i -> array_to_string(t[i:i+1], ' '))) AS gram
        FROM toks WHERE len(t) >= 2),
      hashed AS (
        SELECT doc_id,
          ('0x' || substring(md5('qclf:g:' || gram), 1, 8))::BIGINT % 4096
            AS bucket
        FROM grams),
      wt AS (
        SELECT g AS bucket,
          (('0x' || substring(md5('qclf:w:' || CAST(g AS VARCHAR)), 1, 8))
            ::BIGINT % 2001 - 1000) / CAST(1000 AS DOUBLE) AS weight
        FROM generate_series(0, 4095) s(g)),
      sc AS (
        SELECT doc_id,
          round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(
            -round(CAST(sum(CAST(weight AS DECIMAL(38,6))) AS DOUBLE)
              / count(*), 6))), 6) AS score
        FROM hashed JOIN wt USING (bucket) GROUP BY 1),
      lb AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+'))
              BETWEEN 50 AND 100000
            AND round(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'))
              / CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE),
              6) BETWEEN 3.0 AND 10.0
            AND round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
              / CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE),
              6) <= 0.1
            AND round(len(list_filter(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+'),
                w -> regexp_matches(w, '[A-Za-z]')))
              / CAST(len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE),
              6) >= 0.8
            AND len(list_intersect(
              list_distinct(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')),
              [$stopList])) >= 1
          AS INT) AS pos
        FROM documents)"""
  }

  /** Binned ROC-AUC ([[graft.ext.ClassifierEval.binnedAuc]]) of the
    * hashing-trick classifier against the gate label: histogram
    * Mann-Whitney, exact-integer arithmetic to one final division. */
  val classifierAuc = Q(
    "ext_classifier_auc",
    (s, d) => graft.ext.ClassifierEval.binnedAuc(
      evalScoredLabeled(s, d), "score", "pos"),
    Some(s"""WITH $evalScoreLabelCtes,
      j AS (
        SELECT least(CAST(floor(sc.score * 1000) AS BIGINT), 999) AS bin,
          lb.pos
        FROM sc JOIN lb USING (doc_id)),
      h AS (
        SELECT bin, CAST(sum(pos) AS BIGINT) AS pos_n,
          CAST(count(*) - sum(pos) AS BIGINT) AS neg_n
        FROM j GROUP BY bin),
      c AS (
        SELECT pos_n, neg_n,
          CAST(coalesce(sum(neg_n) OVER (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_neg
        FROM h)
      SELECT
        CASE WHEN sum(pos_n) > 0 AND sum(neg_n) > 0 THEN
          round((2.0 * CAST(sum(cum_neg * pos_n) AS DOUBLE)
              + CAST(sum(neg_n * pos_n) AS DOUBLE))
            / (2.0 * CAST(sum(pos_n) AS DOUBLE)
              * CAST(sum(neg_n) AS DOUBLE)), 6)
        ELSE NULL END AS auc,
        CAST(sum(pos_n) AS BIGINT) AS n_pos,
        CAST(sum(neg_n) AS BIGINT) AS n_neg
      FROM c"""))

  /** Calibration / reliability deciles
    * ([[graft.ext.ClassifierEval.calibrationBins]]): mean predicted
    * score vs observed positive rate per score decile. */
  val classifierCalibration = Q(
    "ext_classifier_calibration",
    (s, d) => graft.ext.ClassifierEval.calibrationBins(
      evalScoredLabeled(s, d), "score", "pos"),
    Some(s"""WITH $evalScoreLabelCtes
      SELECT least(CAST(floor(sc.score * 10) AS BIGINT), 9) AS bin,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(lb.pos) AS BIGINT) AS n_pos,
        round(CAST(sum(CAST(sc.score AS DECIMAL(18,6))) AS DOUBLE)
          / count(*), 6) AS mean_score,
        round(CAST(sum(lb.pos) AS DOUBLE) / count(*), 6) AS pos_rate
      FROM sc JOIN lb USING (doc_id)
      GROUP BY 1"""))

  /** One-row classifier fit report
    * ([[graft.ext.ClassifierEval.fitReport]]): Brier + ECE. */
  val classifierFit = Q(
    "ext_classifier_fit",
    (s, d) => graft.ext.ClassifierEval.fitReport(
      evalScoredLabeled(s, d), "score", "pos"),
    Some(s"""WITH $evalScoreLabelCtes,
      j AS (
        SELECT sc.score, lb.pos,
          least(CAST(floor(sc.score * 10) AS BIGINT), 9) AS bin
        FROM sc JOIN lb USING (doc_id)),
      b AS (
        SELECT round(CAST(sum((CAST(score AS DECIMAL(18,6)) - pos)
              * (CAST(score AS DECIMAL(18,6)) - pos)) AS DOUBLE)
            / count(*), 6) AS brier,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM j),
      e AS (
        SELECT round(CAST(sum(abs(CAST(n_pos AS DECIMAL(38,6)) - sum_score))
            AS DOUBLE) / sum(n_docs), 6) AS ece
        FROM (
          SELECT bin, sum(pos) AS n_pos,
            sum(CAST(score AS DECIMAL(18,6))) AS sum_score,
            count(*) AS n_docs
          FROM j GROUP BY bin))
      SELECT b.brier, e.ece, b.n_docs FROM b, e"""))

  /** Per-(lang, source) corpus quality report — the fused "dashboard"
    * aggregate a curation run consults before gating: doc count, token
    * and char volume, mean quality score, mean stopword ratio, exact
    * duplicate count — ALL in one scan + one shuffle (every metric is a
    * column in the same groupBy.agg; the dup count reuses the exact-dedup
    * fingerprint as a distinct count). The naive form runs one job per
    * metric — linear in metrics at 100 TB. */
  val corpusReport = Q(
    "ext_corpus_report",
    (s, d) => Tables.documents(s, d)
      .select(col("lang"), col("source"),
        TextStats.tokenCount(col("text")).as("n_tok"),
        length(col("text")).as("n_chr"),
        TextStats.qualityScore(col("text")).as("q"),
        TextStats.stopwordRatio(col("text")).as("sr"),
        TextStats.fingerprint(col("text")).as("fp"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_chr")).as("total_chars"),
        Det.davg(col("q"), 6).as("avg_quality"),
        Det.davg(col("sr"), 6).as("avg_stopword_ratio"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups")),
    Some {
      s"""WITH c AS (
        SELECT lang, source,
          $qcTokSql AS n_tok,
          length(text) AS n_chr,
          $qcSrSql AS sr, $qcPrSql AS pr, $qcDrSql AS dr,
          ${fpSql()} AS fp
        FROM documents),
      q AS (
        SELECT lang, source, n_tok, n_chr, sr, fp,
          ${qualityCompositeSql("n_tok", "sr", "pr", "dr")} AS qs
        FROM c)
      SELECT lang, source, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        CAST(sum(n_chr) AS BIGINT) AS total_chars,
        ${Det.davgSql("qs", 6)} AS avg_quality,
        ${Det.davgSql("sr", 6)} AS avg_stopword_ratio,
        count(*) - count(DISTINCT fp) AS n_exact_dups
      FROM q GROUP BY lang, source"""
    },
    bench = true)

  /** Duplicate n-gram coverage (Gopher/RefinedWeb gate,
    * [[graft.ext.TextDedup.dupNgramCoverage]]): fraction of each doc
    * covered by 8-grams occurring in another doc. The corpus is salted
    * with prefix-tagged copies of every 9th doc, so the shared-passage
    * path (high-but-<1 coverage on both members, 0 on the rest) is
    * load-bearing for the hash to match. */
  val dupNgramCov = Q(
    "ext_dup_ngram_coverage",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // copies live in the NEGATIVE id space — disjoint from real ids at
      // any scale factor (an additive offset would collide once real ids
      // exceed it, corrupting the fixture identically on both engines)
      val copies = docs.filter(col("doc_id") % 9 === 0)
        .select((negate(col("doc_id")) - 1).as("doc_id"),
          concat(lit("prefix"), col("doc_id").cast("string"),
            lit(" marker start "), col("text")).as("text"))
      TextDedup.dupNgramCoverage(docs.unionByName(copies), "text", "doc_id")
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -doc_id - 1 AS doc_id,
          'prefix' || CAST(doc_id AS VARCHAR) || ' marker start ' || text
            AS text
        FROM documents WHERE doc_id % 9 = 0),
      t AS (SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
            FROM corpus),
      ex AS (SELECT doc_id, len(tk) AS n_tok, tk,
               unnest(CASE WHEN len(tk) >= 8
                 THEN generate_series(1, len(tk) - 7)
                 ELSE CAST([] AS BIGINT[]) END) AS i
             FROM t),
      ghx AS (SELECT doc_id, n_tok, i,
               ('0x' || substring(md5(array_to_string(tk[i:i+7], ' ')),
                 1, 8))::BIGINT AS gh
             FROM ex),
      dup AS (SELECT gh FROM ghx
              GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT doc_id, tp FROM (
                SELECT g.doc_id,
                  unnest(generate_series(g.i, g.i + 7)) AS tp
                FROM ghx g JOIN dup USING (gh)) u),
      c AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id),
      base AS (SELECT doc_id, len(tk) AS n_tokens FROM t)
      SELECT b.doc_id, b.n_tokens,
        round(coalesce(c.n_cov, 0) / CAST(b.n_tokens AS DOUBLE), 6)
          AS dup_ngram_frac
      FROM base b LEFT JOIN c USING (doc_id)"""),
    bench = true)

  /** Duplicate-span removal ([[graft.ext.TextDedup.removeDupSpans]]) over
    * the same salted corpus as `ext_dup_ngram_coverage` (negative-id
    * copies share their originals' text, so every copied passage is cut
    * from BOTH sides while the unique prefixes survive). The oracle
    * replays gram hashing, the ≥2-distinct-docs gate, covered-position
    * expansion, and the ordered token re-join. */
  val removeSpans = Q(
    "ext_remove_dup_spans",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val copies = docs.filter(col("doc_id") % 9 === 0)
        .select((negate(col("doc_id")) - 1).as("doc_id"),
          concat(lit("prefix"), col("doc_id").cast("string"),
            lit(" marker start "), col("text")).as("text"))
      graft.ext.TextDedup.removeDupSpans(
        docs.unionByName(copies), "text", "doc_id")
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -doc_id - 1 AS doc_id,
          'prefix' || CAST(doc_id AS VARCHAR) || ' marker start ' || text
            AS text
        FROM documents WHERE doc_id % 9 = 0),
      t AS (SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
            FROM corpus),
      ex AS (SELECT doc_id, tk,
               unnest(CASE WHEN len(tk) >= 8
                 THEN generate_series(1, len(tk) - 7)
                 ELSE CAST([] AS BIGINT[]) END) AS i
             FROM t),
      ghx AS (SELECT doc_id, i,
               ('0x' || substring(md5(array_to_string(tk[i:i+7], ' ')),
                 1, 8))::BIGINT AS gh
             FROM ex),
      dup AS (SELECT gh FROM ghx
              GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT doc_id, tp FROM (
                SELECT g.doc_id,
                  unnest(generate_series(g.i, g.i + 7)) AS tp
                FROM ghx g JOIN dup USING (gh)) u),
      tokrows AS (SELECT t.doc_id, u.i AS pos, t.tk[u.i] AS tok
                  FROM t, unnest(generate_series(1, len(t.tk))) AS u(i)),
      kept AS (SELECT tr.doc_id, tr.pos, tr.tok
               FROM tokrows tr LEFT JOIN cov c
                 ON c.doc_id = tr.doc_id AND c.tp = tr.pos
               WHERE c.tp IS NULL),
      agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
              FROM kept GROUP BY doc_id),
      ncov AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
      base AS (SELECT doc_id, len(tk) AS n_tokens FROM t)
      SELECT b.doc_id, coalesce(a.text, '') AS text, b.n_tokens,
        CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
      FROM base b
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ncov n USING (doc_id)"""),
    bench = true)

  /** Winnowing fingerprints ([[graft.ext.TextDedup.winnowFingerprint]],
    * the MOSS algorithm) over a corpus salted three ways: doc_id%6 docs
    * share an appended 8-token passage (≥ k+w−1 = 8, so the winnowing
    * guarantee forces a common fingerprint), doc_id%29 docs are replaced
    * by a 6-token text (fewer than w grams → the single-minimum boundary
    * rule), doc_id%31 docs by a 2-token text (< k tokens → no
    * fingerprints, the doc disappears). Oracle replays gram hashing,
    * window minima and the per-doc distinct with DuckDB list functions. */
  val winnow = Q(
    "ext_winnow_fingerprint",
    (s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 31 === 0, lit("too short now"))
          .when(col("doc_id") % 29 === 0,
            lit("six little tokens of shared text"))
          .when(col("doc_id") % 6 === 0,
            concat(col("text"),
              lit(" the shared passage marker spans eight tokens")))
          .otherwise(col("text")).as("text"))
      graft.ext.TextDedup.winnowFingerprint(base, "text", "doc_id")
    },
    Some("""WITH corpus AS (
        SELECT doc_id,
          CASE WHEN doc_id % 31 = 0 THEN 'too short now'
               WHEN doc_id % 29 = 0 THEN 'six little tokens of shared text'
               WHEN doc_id % 6 = 0 THEN text
                 || ' the shared passage marker spans eight tokens'
               ELSE text END AS text
        FROM documents),
      t AS (SELECT doc_id, string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS tk
            FROM corpus),
      g AS (SELECT doc_id,
              CASE WHEN len(tk) >= 5 THEN
                list_transform(generate_series(1, len(tk) - 4), i ->
                  ('0x' || substring(
                    md5(array_to_string(tk[i:i+4], ' ')), 1, 8))::BIGINT)
              ELSE CAST([] AS BIGINT[]) END AS gh
            FROM t),
      m AS (SELECT doc_id,
              CASE WHEN len(gh) = 0 THEN CAST([] AS BIGINT[])
                   WHEN len(gh) <= 4 THEN [list_min(gh)]
                   ELSE list_transform(generate_series(1, len(gh) - 3),
                     j -> list_min(gh[j:j+3])) END AS mins
            FROM g)
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, unnest(mins) AS fp FROM m)"""))

  /** Count-Min-Sketch heavy hitters ([[graft.ext.Sketches]]): approximate
    * term frequencies from a d×w counter matrix (d·w longs total,
    * corpus-size-independent) next to the exact counts. The narrow w=64
    * width forces real bucket collisions at this vocabulary, so the
    * no-false-negatives overestimate property is load-bearing in the
    * oracle compare, not vacuous. */
  /** Shared CMS-vs-exact oracle CTE chain (ends in `vocab(tok,
    * exact_count)` and `est(tok, cms_count)`) — one definition for the
    * heavy-hitter scan and the calibration eval. */
  private def cmsOracleCtes(w: Int = 64): String = {
    val rows = (0 until 4).map { r =>
      s"""SELECT tok, $r AS r,
        ((${TextDedup.minhashA(r)} * base + ${TextDedup.minhashB(r)})
          % ${TextDedup.minhashP}) % $w AS bucket FROM h"""
    }.mkString(" UNION ALL ")
    s"""tok AS (
        SELECT unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents),
      h AS (SELECT tok,
        ('0x' || substring(md5(tok), 1, 8))::BIGINT AS base FROM tok),
      buck AS ($rows),
      counters AS (SELECT r, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
      vocab AS (SELECT tok, count(*) AS exact_count FROM tok GROUP BY 1),
      probes AS (SELECT DISTINCT tok, r, bucket FROM buck),
      est AS (SELECT p.tok, min(c.c) AS cms_count
              FROM probes p JOIN counters c USING (r, bucket) GROUP BY 1)"""
  }

  val cmsHeavy = Q(
    "ext_heavy_hitters_cms",
    (s, d) => Sketches.cmsHeavyHitters(
      Tables.documents(s, d), "text", d = 4, w = 64, minCount = 900),
    Some(s"""WITH ${cmsOracleCtes()}
        SELECT v.tok, e.cms_count, v.exact_count
        FROM vocab v JOIN est e USING (tok)
        WHERE e.cms_count >= 900"""))

  /** CMS CALIBRATION EVAL — the `ext_sketch_quantile_error` /
    * `ext_minhash_error_eval` contract applied to the count sketch:
    * over the FULL vocabulary (not just heavy hitters), the overcount
    * err = cms − exact (≥ 0 by the no-false-negative property — a
    * negative err anywhere would hash-fail) bucketed into integer
    * magnitude bands, with term counts, total/max overcount, and the
    * exact mass per band — the table a platform team reads before
    * trusting a (d, w) setting for a dashboard. All-integer
    * arithmetic: no rounding contract needed anywhere. */
  val cmsErrEval = Q(
    "ext_cms_error_eval",
    (s, d) => {
      val hh = Sketches.cmsHeavyHitters(
        Tables.documents(s, d), "text", d = 4, w = 16, minCount = 0L)
      hh.select((col("cms_count") - col("exact_count")).as("err"),
          col("exact_count"))
        .groupBy(when(col("err") === 0, "0")
          .when(col("err") < 10, "1-9")
          .when(col("err") < 100, "10-99")
          .when(col("err") < 1000, "100-999")
          .otherwise("1000+").as("err_bucket"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("err")).as("sum_overcount"),
          max(col("err")).as("max_overcount"),
          sum(col("exact_count")).as("sum_exact"))
    },
    Some(s"""WITH ${cmsOracleCtes(16)},
      err AS (
        SELECT e.cms_count - v.exact_count AS err, v.exact_count
        FROM vocab v JOIN est e USING (tok))
      SELECT CASE WHEN err = 0 THEN '0'
          WHEN err < 10 THEN '1-9'
          WHEN err < 100 THEN '10-99'
          WHEN err < 1000 THEN '100-999'
          ELSE '1000+' END AS err_bucket,
        count(*) AS n_terms,
        CAST(sum(err) AS BIGINT) AS sum_overcount,
        max(err) AS max_overcount,
        CAST(sum(exact_count) AS BIGINT) AS sum_exact
      FROM err GROUP BY 1"""))

  /** CMS MERGEABILITY demonstration — the `ext_hll_merge_epochs`
    * contract for the count sketch: per-epoch counter matrices summed
    * register-wise must estimate IDENTICALLY to one whole-corpus
    * matrix (counter addition IS partial aggregation — the property
    * that makes the sketch shard-mergeable at 100 TB: each ingest
    * epoch publishes d·w longs, and any scope union is a cheap sum,
    * never a re-scan). Output carries both estimates per term plus the
    * `merge_identical` verdict — all-1 by the algebra, and the hash
    * gate would fail on any term where it isn't. */
  val cmsMergeEpochs = Q(
    "ext_cms_merge_epochs",
    (s, d) => {
      val (dd, w) = (4, 16)
      val toks = graft.ops.CacheScope.persist(
        Tables.documents(s, d).select(
          (col("doc_id") % 2).cast("int").as("epoch"),
          explode(TextStats.tokens(lower(col("text")))).as("tok")))
      val bucketed = toks.select(col("epoch"), col("tok"),
        posexplode(array(Sketches.cmsBuckets(col("tok"), dd, w): _*))
          .as(Seq("r", "bucket")))
      val perEpoch = bucketed.groupBy(col("epoch"), col("r"),
        col("bucket")).agg(count(lit(1)).as("c"))
      val merged = perEpoch.groupBy(col("r"), col("bucket"))
        .agg(sum(col("c")).as("c"))
      val whole = Sketches.cmsCounters(toks, "tok", dd, w)
      val vocab = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count"))
      val em = Sketches.cmsEstimate(vocab, "tok", merged, dd, w)
        .withColumnRenamed("cms_count", "cms_merged")
      val ew = Sketches.cmsEstimate(
          vocab.select(col("tok")), "tok", whole, dd, w)
        .withColumnRenamed("cms_count", "cms_whole")
      em.join(ew, Seq("tok"))
        .select(col("tok"), col("cms_merged"), col("cms_whole"),
          col("exact_count"),
          when(col("cms_merged") === col("cms_whole"), 1).otherwise(0)
            .as("merge_identical"))
    },
    Some {
      val rows = (0 until 4).map { r =>
        s"""SELECT epoch, tok, $r AS r,
          ((${TextDedup.minhashA(r)} * base + ${TextDedup.minhashB(r)})
            % ${TextDedup.minhashP}) % 16 AS bucket FROM h"""
      }.mkString(" UNION ALL ")
      s"""WITH tok AS (
          SELECT doc_id % 2 AS epoch,
            unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
          FROM documents),
        h AS (SELECT epoch, tok,
          ('0x' || substring(md5(tok), 1, 8))::BIGINT AS base FROM tok),
        buck AS ($rows),
        ce AS (SELECT epoch, r, bucket, count(*) AS c
               FROM buck GROUP BY 1, 2, 3),
        cm AS (SELECT r, bucket, CAST(sum(c) AS BIGINT) AS c
               FROM ce GROUP BY 1, 2),
        cw AS (SELECT r, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
        vocab AS (SELECT tok, count(*) AS exact_count FROM tok GROUP BY 1),
        probes AS (SELECT DISTINCT tok, r, bucket FROM buck),
        em AS (SELECT p.tok, min(c.c) AS cms_merged
               FROM probes p JOIN cm c USING (r, bucket) GROUP BY 1),
        ew AS (SELECT p.tok, min(c.c) AS cms_whole
               FROM probes p JOIN cw c USING (r, bucket) GROUP BY 1)
        SELECT v.tok, em.cms_merged, ew.cms_whole, v.exact_count,
          CASE WHEN em.cms_merged = ew.cms_whole THEN 1 ELSE 0 END
            AS merge_identical
        FROM vocab v JOIN em USING (tok) JOIN ew USING (tok)"""
    })

  /** Deterministic weighted sampling (sequential Poisson order sampling,
    * [[graft.ext.Sketches.weightedSample]]): 20 documents drawn with
    * probability ≈ proportional to length, reproducibly — priorities are
    * pure IEEE arithmetic over md5 uniforms, so the DuckDB oracle draws
    * the IDENTICAL sample. */
  val weightedSample = Q(
    "ext_weighted_sample",
    (s, d) => Sketches.weightedSample(
      Tables.documents(s, d).select("doc_id", "n_chars"),
      "doc_id", "n_chars", 20),
    Some("""SELECT CAST(rn AS INT) AS rank, doc_id, pri AS priority FROM (
        SELECT doc_id, pri,
          row_number() OVER (ORDER BY pri ASC, doc_id ASC) AS rn
        FROM (SELECT doc_id,
          ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            + 1) / 4294967296.0) / n_chars AS pri
          FROM documents
          -- mirror weightedSample's weight > 0 filter: a zero-weight doc
          -- must not occupy a sample slot with a NULL/inf priority
          WHERE n_chars > 0) t) s
      WHERE rn <= 20"""))

  /** Unigram LM quality scoring ([[graft.ext.TextStats.lmScore]]): mean
    * token log-prob per document under a corpus-trained unigram model —
    * the CCNet-style perplexity gate. Log-probs 6-dp-rounded, mean via
    * exact decimal sum, so the composite hash-matches. */
  /** lmScore oracle CTEs, shared by `ext_lm_score` and
    * `ext_ccnet_buckets` (one copy — two would be the oracle-drift bug
    * class). `scored` ends with (doc_id, avg_logprob, n_tokens). */
  private val lmScoreCtes = """it AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS tok
        FROM documents),
      cnt AS (SELECT tok, count(*) AS c FROM it GROUP BY 1),
      tot AS (SELECT sum(c) AS n FROM cnt),
      lp AS (SELECT tok, round(ln(c / n), 6) AS logp FROM cnt, tot),
      scored AS (
        SELECT doc_id,
          CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*)
            AS avg_logprob,
          count(*) AS n_tokens
        FROM it JOIN lp USING (tok)
        GROUP BY doc_id)"""

  val lmScore = Q(
    "ext_lm_score",
    (s, d) => graft.ext.TextStats.lmScore(
      Tables.documents(s, d), "text", "doc_id"),
    Some(s"""WITH $lmScoreCtes
      SELECT doc_id, avg_logprob, n_tokens FROM scored"""))

  /** Bigram LM scoring ([[graft.ext.TextStats.bigramLmScore]]): add-one
    * smoothed P(w2|w1) trained on the corpus itself, exact-decimal
    * per-doc mean of 6-dp-rounded logs (the lmScore determinism rules,
    * one model order up). */
  val bigramLm = Q(
    "ext_bigram_lm",
    (s, d) => graft.ext.TextStats.bigramLmScore(
      Tables.documents(s, d), "text", "doc_id"),
    Some("""WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS t
        FROM documents),
      bi AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 1),
            i -> array_to_string(t[i:i+1], ' '))) AS bg
        FROM toks WHERE len(t) >= 2),
      cb AS (SELECT bg, count(*) AS cb FROM bi GROUP BY 1),
      cw AS (
        SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cw
        FROM cb GROUP BY 1),
      v AS (
        SELECT count(DISTINCT tok) AS v FROM (
          SELECT unnest(t) AS tok FROM toks)),
      lp AS (
        SELECT bg, round(ln((cb + 1) / CAST(cw + v AS DOUBLE)), 6) AS logp
        FROM cb JOIN cw ON string_split(bg, ' ')[1] = cw.w1, v)
      SELECT doc_id,
        CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*)
          AS avg_bigram_logprob,
        count(*) AS n_bigrams
      FROM bi JOIN lp USING (bg)
      GROUP BY doc_id"""))

  /** Hashed-n-gram linear quality classifier
    * ([[graft.ext.TextStats.hashedLinearScore]]): fastText-style
    * hashing-trick scoring — unigram+bigram bag hashed into 4096
    * buckets, md5-derived stand-in weight vector (broadcast), margin =
    * exact-decimal mean weight, sigmoid score, keep gate. The oracle
    * rebuilds the weight table from `generate_series` with the same
    * hash arithmetic. */
  val qualityClassifier = Q(
    "ext_quality_classifier",
    (s, d) => graft.ext.TextStats.hashedLinearScore(
      Tables.documents(s, d), "text", "doc_id"),
    Some("""WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS t
        FROM documents),
      grams AS (
        SELECT doc_id, unnest(t) AS gram FROM toks
        UNION ALL
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 1),
            i -> array_to_string(t[i:i+1], ' '))) AS gram
        FROM toks WHERE len(t) >= 2),
      hashed AS (
        SELECT doc_id,
          ('0x' || substring(md5('qclf:g:' || gram), 1, 8))::BIGINT % 4096
            AS bucket
        FROM grams),
      w AS (
        SELECT g AS bucket,
          (('0x' || substring(md5('qclf:w:' || CAST(g AS VARCHAR)), 1, 8))
            ::BIGINT % 2001 - 1000) / CAST(1000 AS DOUBLE) AS weight
        FROM generate_series(0, 4095) s(g)),
      agg AS (
        SELECT doc_id, count(*) AS n_features,
          round(CAST(sum(CAST(weight AS DECIMAL(38,6))) AS DOUBLE)
            / count(*), 6) AS margin
        FROM hashed JOIN w USING (bucket)
        GROUP BY 1)
      SELECT doc_id, n_features, margin,
        round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-margin)), 6)
          AS score,
        CAST(margin >= 0 AS INT) AS keep
      FROM agg"""))

  /** Corpus snapshot diff ([[graft.ext.Curation.snapshotDiff]]): the
    * current snapshot is derived from `documents` with every diff class
    * load-bearing — doc_id%13 docs edited (changed), doc_id%17 docs
    * dropped (removed), a shifted-id tranche appended (added), the rest
    * byte-identical (unchanged). Oracle replays the fingerprint FULL
    * OUTER JOIN. */
  val snapshotDiff = Q(
    "ext_snapshot_diff",
    (s, d) => {
      val prev = Tables.documents(s, d)
      val cur = prev.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" edited v2"))).otherwise(col("text"))
            .as("text"))
        .unionAll(prev.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      graft.ext.Curation.snapshotDiff(prev, cur, "text", "doc_id")
    },
    Some(s"""WITH fp_prev AS (
        SELECT doc_id,
          ${fpSql()} AS fp_prev
        FROM documents),
      cur AS (
        SELECT doc_id,
          CASE WHEN doc_id % 13 = 0 THEN text || ' edited v2'
               ELSE text END AS text
        FROM documents WHERE doc_id % 17 != 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 11 = 0),
      fp_cur AS (
        SELECT doc_id,
          ${fpSql()} AS fp_cur
        FROM cur)
      SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        CASE WHEN p.doc_id IS NULL THEN 'added'
             WHEN c.doc_id IS NULL THEN 'removed'
             WHEN p.fp_prev != c.fp_cur THEN 'changed'
             ELSE 'unchanged' END AS status,
        p.fp_prev, c.fp_cur
      FROM fp_prev p FULL OUTER JOIN fp_cur c ON p.doc_id = c.doc_id"""))

  /** CCNet-style per-language perplexity buckets
    * ([[graft.ext.Curation.perplexityBuckets]]): head/middle/tail by
    * per-LANGUAGE LM-score terciles. The oracle replays the shared
    * lmScore CTEs, DuckDB `quantile_cont` ≡ Spark exact `percentile`
    * (both 6-dp-rounded), and the same >= cut CASE. */
  val ccnetBuckets = Q(
    "ext_ccnet_buckets",
    (s, d) => graft.ext.Curation.perplexityBuckets(
      Tables.documents(s, d), "text", "doc_id", "lang"),
    Some(s"""WITH $lmScoreCtes,
      j AS (
        SELECT s.doc_id, d.lang, round(s.avg_logprob, 6) AS avg_logprob
        FROM scored s JOIN documents d USING (doc_id)),
      cuts AS (
        SELECT lang,
          round(quantile_cont(avg_logprob, 1.0/3), 6) AS cut_low,
          round(quantile_cont(avg_logprob, 2.0/3), 6) AS cut_high
        FROM j GROUP BY lang)
      SELECT doc_id, lang, avg_logprob, cut_low, cut_high,
        CASE WHEN avg_logprob >= cut_high THEN 'head'
             WHEN avg_logprob >= cut_low THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM j JOIN cuts USING (lang)"""))

  /** Character entropy ([[graft.ext.TextStats.charEntropy]]): Shannon
    * entropy of the per-doc character histogram. Oracle replays the
    * ln(n) − Σ c·ln(c)/n identity with the same 6-dp/decimal-sum
    * determinism recipe as ext_lm_score. */
  val charEntropy = Q(
    "ext_char_entropy",
    (s, d) => graft.ext.TextStats.charEntropy(
      Tables.documents(s, d), "text", "doc_id"),
    Some("""WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents),
      hist AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                sum(CAST(c * round(ln(c), 6) AS DECIMAL(18,6))) AS s
              FROM hist GROUP BY 1)
      SELECT doc_id,
        round(ln(n) - CAST(s AS DOUBLE) / n, 6) AS char_entropy,
        n AS n_chars
      FROM agg"""))

  /** Gopher rule-based gates ([[graft.ext.TextStats.gopherGates]]) over a
    * corpus deterministically salted so every gate fires both ways:
    * doc_id%7 docs gain `#`/ellipsis noise (symbol gate), doc_id%11 docs
    * gain numeric words (alpha-ratio gate), doc_id%3 docs gain the
    * stopwords the raw vocabulary lacks (stopword gate); word-count
    * bounds 25..80 straddle the corpus's 10..99 distribution. */
  val gopherGates = Q(
    "ext_gopher_gates",
    (s, d) => graft.ext.TextStats.gopherGates(
      Tables.documents(s, d).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" # ## ... #")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" 12 3 456 78 90 1 2 3 4 5 6 7"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit(" and that with have"))
            .otherwise(lit(""))).as("text")),
      "text", "doc_id", minWords = 25, maxWords = 80),
    Some {
      val stopList = graft.ext.TextStats.gopherStopwords
        .map(w => s"'$w'").mkString(",")
      """WITH raw AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 7 = 0 THEN ' # ## ... #' ELSE '' END
            || CASE WHEN doc_id % 11 = 0
                 THEN ' 12 3 456 78 90 1 2 3 4 5 6 7' ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                 THEN ' and that with have' ELSE '' END AS t
          FROM documents),
        sig AS (
          SELECT doc_id,
            len(string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS n_words,
            round(length(regexp_replace(t, '[ \t\n\x0B\f\r]+', '', 'g'))
              / CAST(len(string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS DOUBLE), 6)
              AS mean_word_len,
            round(len(regexp_extract_all(t, '#|\.\.\.'))
              / CAST(len(string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS DOUBLE), 6)
              AS symbol_word_ratio,
            round(len(list_filter(string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+'),
                w -> regexp_matches(w, '[A-Za-z]')))
              / CAST(len(string_split_regex(trim(t, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS DOUBLE), 6)
              AS alpha_word_ratio,
            len(list_intersect(
              list_distinct(string_split_regex(trim(lower(t), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')),
              [""" + stopList + """])) AS stop_hits
          FROM raw)
        SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
          alpha_word_ratio, stop_hits,
          CAST(n_words BETWEEN 25 AND 80 AS INT) AS gate_words,
          CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS gate_mwl,
          CAST(symbol_word_ratio <= 0.1 AS INT) AS gate_symbol,
          CAST(alpha_word_ratio >= 0.8 AS INT) AS gate_alpha,
          CAST(stop_hits >= 2 AS INT) AS gate_stop,
          CAST(n_words BETWEEN 25 AND 80
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio <= 0.1
            AND alpha_word_ratio >= 0.8
            AND stop_hits >= 2 AS INT) AS keep
        FROM sig"""
    })

  /** HTML stripping ([[graft.ext.Markup.stripHtml]]) over a corpus
    * deterministically wrapped in realistic markup: head/style block,
    * entity-bearing headline, the text inside `<p>`, an entity-rich
    * trailer div, and a script block whose body contains a bare `<` —
    * so block removal (content and all), tag stripping, single-pass
    * entity decoding, and whitespace collapse are each load-bearing. */
  val htmlStrip = Q(
    "ext_html_strip",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style type=\"text/css\">p { color: #fff; }</style>"
          + "</head><body><h1>Header &amp; intro</h1><p>"),
        col("text"),
        lit("</p><div class=\"x\">tail &lt;escaped&gt; &quot;q&quot;"
          + " &#39;s&#39; one&nbsp;two</div>"
          + "<script>var i = 1; if (i < 2) { i = 3; }</script>"
          + "</body></html>")).as("t"))
      .select(col("doc_id"),
        graft.ext.Markup.stripHtml(col("t")).as("cleaned"))
      .select(col("doc_id"), col("cleaned"),
        length(col("cleaned")).as("n_chars_clean")),
    Some("""WITH raw AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || doc_id
          || '</title><style type="text/css">p { color: #fff; }</style>'
          || '</head><body><h1>Header &amp; intro</h1><p>' || text
          || '</p><div class="x">tail &lt;escaped&gt; &quot;q&quot;'
          || ' &#39;s&#39; one&nbsp;two</div>'
          || '<script>var i = 1; if (i < 2) { i = 3; }</script>'
          || '</body></html>' AS t
        FROM documents),
      stripped AS (
        SELECT doc_id,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '<[^>]*>', ' ', 'g'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
              '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
            '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) AS cleaned
        FROM raw)
      SELECT doc_id, cleaned, length(cleaned) AS n_chars_clean
      FROM stripped"""))

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]]) over a
    * corpus salted with DECOMPOSED sequences (e + U+0301 combining acute,
    * A + U+030A combining ring) next to their precomposed twins — the
    * canonical-composition step every dedup/fingerprint pipeline needs
    * (visually identical strings must hash identically). Emits the
    * normalized text, code-point lengths before/after (each combining
    * pair shrinks by one), whether the normalized form equals the
    * precomposed variant, and the fingerprint prefix that downstream
    * exact-dedup would key on. Oracle: DuckDB `nfc_normalize` is the same
    * Unicode canonical composition; salts built from `chr()` code points
    * match the Scala escapes exactly. */
  val nfcNormalize = Q(
    "ext_nfc_normalize",
    (s, d) => {
      import graft.functions.NfcNormalize.nfc
      Tables.documents(s, d).select(
        col("doc_id"),
        concat(col("text"), lit(" cafe\u0301 A\u030A")).as("t_dec"),
        concat(col("text"), lit(" caf\u00E9 \u00C5")).as("t_pre"))
        .select(col("doc_id"),
          nfc(col("t_dec")).as("nfc_text"),
          length(col("t_dec")).as("n_raw"),
          length(nfc(col("t_dec"))).as("n_nfc"),
          (nfc(col("t_dec")) === col("t_pre")).cast("int").as("forms_match"),
          substring(md5(nfc(col("t_dec"))), 1, 8).as("fp8"))
    },
    Some("""WITH raw AS (
        SELECT doc_id,
          text || ' cafe' || chr(769) || ' A' || chr(778) AS t_dec,
          text || ' caf' || chr(233) || ' ' || chr(197) AS t_pre
        FROM documents)
      SELECT doc_id, nfc_normalize(t_dec) AS nfc_text,
        length(t_dec) AS n_raw,
        length(nfc_normalize(t_dec)) AS n_nfc,
        CAST(nfc_normalize(t_dec) = t_pre AS INT) AS forms_match,
        substring(md5(nfc_normalize(t_dec)), 1, 8) AS fp8
      FROM raw"""))

  /** URL→domain provenance report ([[graft.ext.Markup.domainReport]])
    * over a corpus salted with 1-3 URLs per doc: a mixed-case primary
    * (lowercasing load-bearing), an ad-tracker URL on doc_id%4 (blocklist
    * hit), and a same-domain second URL on doc_id%10 (distinct-count
    * load-bearing). */
  val urlDomains = Q(
    "ext_url_domains",
    (s, d) => graft.ext.Markup.domainReport(
      Tables.documents(s, d).select(
        col("doc_id"),
        concat(col("text"),
          lit(" see https://Site"), col("doc_id") % 13,
          lit(".Example.com/p/"), col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" http://ads.tracker"), col("doc_id") % 3,
              lit(".net/x?q="), col("doc_id"))).otherwise(lit("")),
          when(col("doc_id") % 10 === 0,
            concat(lit(" https://site"), col("doc_id") % 13,
              lit(".example.com/other"))).otherwise(lit(""))).as("text")),
      "text", "doc_id",
      blocklist = Seq("ads.tracker0.net", "ads.tracker1.net",
        "ads.tracker2.net")),
    Some("""WITH raw AS (
        SELECT doc_id,
          text || ' see https://Site' || CAST(doc_id % 13 AS VARCHAR)
          || '.Example.com/p/' || doc_id
          || CASE WHEN doc_id % 4 = 0
               THEN ' http://ads.tracker' || CAST(doc_id % 3 AS VARCHAR)
                 || '.net/x?q=' || doc_id ELSE '' END
          || CASE WHEN doc_id % 10 = 0
               THEN ' https://site' || CAST(doc_id % 13 AS VARCHAR)
                 || '.example.com/other' ELSE '' END AS t
        FROM documents),
      hosts AS (
        SELECT doc_id,
          list_transform(
            regexp_extract_all(t, 'https?://([^/ \t\n\x0B\f\r?#"'']+)', 1),
            h -> lower(h)) AS hs
        FROM raw)
      SELECT doc_id,
        len(hs) AS n_urls,
        len(list_distinct(hs)) AS n_domains,
        len(list_filter(hs, h -> h IN
          ('ads.tracker0.net', 'ads.tracker1.net', 'ads.tracker2.net')))
          AS n_blocked,
        CAST(len(list_filter(hs, h -> h IN
          ('ads.tracker0.net', 'ads.tracker1.net', 'ads.tracker2.net'))) = 0
          AS INT) AS keep
      FROM hosts"""))

  /** Deterministic source mixing ([[graft.ext.Curation.mixSources]]):
    * target weights proportional to (src index % 4 + 1), normalized in
    * Scala and interpolated into BOTH engines from the same doubles
    * (shortest-round-trip — the BM25 constant rule); char budget 100k so
    * the rate cap at 1.0 engages for high-weight low-supply sources at
    * sf0.01. */
  val sourceMix = Q(
    "ext_source_mix",
    (s, d) => graft.ext.Curation.mixSources(
      Tables.documents(s, d), "doc_id", "source", "n_chars",
      targets = (0 until 20).map(i => s"src$i" -> (i % 4 + 1) / 50.0).toMap,
      budget = 100000L),
    Some {
      // CAST every constant to DOUBLE: Spark evaluates
      // lit(budget)*lit(w) as a double product (1-ulp rounding), while
      // a bare `100000 * 0.06` in DuckDB is EXACT decimal arithmetic —
      // the ulp could flip a 6-dp boundary (the bm25OracleSql rule)
      val rateCases = (0 until 20).map { i =>
        s"WHEN source = 'src$i' THEN CAST(${(i % 4 + 1) / 50.0} AS DOUBLE)"
      }.mkString("\n            ")
      s"""WITH avail AS (
          SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail
          FROM documents GROUP BY 1),
        rates AS (
          SELECT source,
            round(least(1.0, CAST(100000 AS DOUBLE) * (CASE
            $rateCases
            ELSE CAST(0.0 AS DOUBLE) END) / avail), 6) AS rate
          FROM avail)
        SELECT doc_id, source, n_chars, rate
        FROM documents JOIN rates USING (source)
        WHERE (('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)),
            1, 8))::BIGINT + 1) / 4294967296.0 < rate"""
    })

  /** Quality-prioritized token-budget selection
    * ([[graft.ext.Curation.tokenBudgetSelect]]): keep the best-quality
    * documents until a 10k-token budget fills — an exact global cutoff
    * computed with the two-phase distributed prefix sum (range-partition
    * on the ranking key; never `Window.orderBy` over the corpus). The
    * oracle replays the same (quality desc, doc_id) cumulative sum with
    * a plain global window — fine at oracle scale, the exact plan the
    * Spark side exists to avoid. */
  val tokenBudget = Q(
    "ext_token_budget_select",
    (s, d) => graft.ext.Curation.tokenBudgetSelect(
      Tables.documents(s, d), "text", "doc_id", budget = 10000L),
    Some(s"""WITH c AS (
        SELECT doc_id, $qcTokSql AS tc, $qcSrSql AS sr,
          $qcPrSql AS pr, $qcDrSql AS dr
        FROM documents),
      q AS (
        SELECT doc_id, CAST(tc AS BIGINT) AS n_tokens,
          ${qualityCompositeSql("tc", "sr", "pr", "dr")} AS quality
        FROM c),
      sel AS (
        SELECT doc_id, quality, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM q)
      SELECT doc_id, quality, n_tokens, cum_tokens
      FROM sel WHERE cum_tokens <= 10000"""))

  /** DSIR importance weights ([[graft.ext.Curation.dsirWeights]]):
    * hashed-unigram+bigram log-likelihood ratio of the English subset
    * over the full corpus — the domain-matching selection score. The
    * oracle replays the salted bucket hash, the add-0.5 smoothed ratio
    * (exact half-integer arithmetic into `ln`, 6-dp round), and the
    * exact decimal per-doc sum. */
  val dsirWeights = Q(
    "ext_dsir_weights",
    (s, d) => graft.ext.Curation.dsirWeights(
      Tables.documents(s, d), "text", "doc_id",
      targetPred = col("lang") === "en"),
    Some(s"""WITH d AS (
        SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t,
          string_split_regex(${wsTrimSql("lower(text)")}, '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents),
      feats AS (
        SELECT doc_id, is_t,
          ('0x' || substring(md5('dsir:' || f), 1, 8))::BIGINT % 4096
            AS bucket
        FROM (
          SELECT doc_id, is_t, unnest(t) AS f FROM d
          UNION ALL
          SELECT doc_id, is_t,
            unnest(list_transform(generate_series(1, len(t) - 1),
              i -> array_to_string(t[i:i+1], ' '))) AS f
          FROM d WHERE len(t) >= 2) u),
      cnts AS (
        SELECT bucket, count(*) AS cr, sum(is_t) AS ct
        FROM feats GROUP BY 1),
      tots AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM cnts),
      lr AS (
        SELECT bucket,
          round(ln(((ct + 0.5) * (tr + 2048.0))
            / ((cr + 0.5) * (tt + 2048.0))), 6) AS logr
        FROM cnts, tots)
      SELECT f.doc_id,
        CAST(sum(CAST(logr AS DECIMAL(18,6))) AS DOUBLE) AS dsir_weight,
        count(*) AS n_feats
      FROM feats f JOIN lr USING (bucket)
      GROUP BY 1"""))

  /** Temperature-scaled source resampling
    * ([[graft.ext.Curation.temperatureResample]], alpha-sampling): the
    * corpus is pre-thinned per source (doc_id ≡ 0 mod (srcIdx%4 + 1))
    * so supplies spread 4× and the p^0.3 flattening is load-bearing —
    * starved sources come back with rate > 1 (epoch repetition via
    * n_copies ≥ 2 rows), oversupplied ones drop docs (coin discards).
    * The oracle replays the two 1-row reductions with the same
    * decimal-sum shape and the salted md5 coin. */
  val temperatureMix = Q(
    "ext_temperature_resample",
    (s, d) => graft.ext.Curation.temperatureResample(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .filter(col("doc_id") %
          (regexp_extract(col("source"), "\\d+", 0).cast("int") % 4 + 1)
          === 0),
      "doc_id", "source", "n_chars", alpha = 0.3, budgetFraction = 1.0),
    Some("""WITH base AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id %
          (CAST(regexp_extract(source, '[0-9]+', 0) AS INT) % 4 + 1) = 0),
      sup AS (
        SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail
        FROM base GROUP BY 1),
      tot AS (
        SELECT CAST(sum(CAST(avail AS DECIMAL(38,6))) AS DOUBLE) AS tot
        FROM sup),
      w0 AS (
        SELECT source, avail, tot, round(pow(avail / tot, 0.3), 6) AS w0
        FROM sup, tot),
      ws AS (
        SELECT CAST(sum(CAST(w0 AS DECIMAL(38,6))) AS DOUBLE) AS wsum
        FROM w0),
      rates AS (
        SELECT source,
          round(CAST(1.0 AS DOUBLE) * tot * (w0 / wsum) / avail, 6) AS rate
        FROM w0, ws)
      SELECT * FROM (
        SELECT b.doc_id, b.source, r.rate,
          CAST(floor(r.rate) + CASE WHEN
            (('0x' || substring(md5('tmix:' || CAST(b.doc_id AS VARCHAR)),
              1, 8))::BIGINT + 1) / 4294967296.0 < r.rate - floor(r.rate)
            THEN 1 ELSE 0 END AS INT) AS n_copies
        FROM base b JOIN rates r USING (source))
      WHERE n_copies > 0"""))

  /** Percentile-bin score calibration
    * ([[graft.ext.Curation.percentileBins]]) of the composite quality
    * score into 8 equal-population bins. bins = 8 is deliberate: every
    * cut fraction i/8 is binary-EXACT, so `q × n` carries no
    * representation error and both engines select the same
    * percentile_disc rank even when it lands on an integer boundary
    * (0.1-style decile fractions would gamble on engine-internal
    * rounding). Cuts are data values; binning is `|{cuts ≤ v}|`. */
  /** Shared 8-bin quality-binning CTE chain (scored → cuts → binned) —
    * one definition for the `ext_score_percentile_bins` and
    * `ext_preference_pairs` oracles. */
  private def binnedCtes = {
    val score = qualityCompositeSql(qcTokSql, qcSrSql, qcPrSql, qcDrSql)
    val qs = (1 until 8).map(i => (i.toDouble / 8).toString)
    s"""scored AS (
        SELECT doc_id, $score AS quality FROM documents),
      cuts AS (
        SELECT quantile_disc(quality, [${qs.mkString(", ")}]) AS cuts
        FROM scored),
      binned AS (
        SELECT doc_id, quality,
          len(list_filter(cuts, c -> c <= quality)) AS bin
        FROM scored, cuts)"""
  }

  val scoreBins = Q(
    "ext_score_percentile_bins",
    (s, d) => graft.ext.Curation.percentileBins(
      Tables.documents(s, d).select(col("doc_id"),
        graft.ext.TextStats.qualityScore(col("text")).as("quality")),
      // 6-dp quality in [0,1]: ≤ 1e6+1 distinct values at ANY corpus
      // size → the bounded single-aggregate cut plan (value→count map)
      "quality", "doc_id", bins = 8, boundedDistinct = true),
    Some(s"""WITH $binnedCtes
      SELECT doc_id, quality, bin FROM binned"""))

  /** Preference-pair mining ([[graft.ext.Curation.preferencePairs]]):
    * per-source (chosen, rejected) doc pairs from the top quartile
    * (bins 6-7) vs bottom quartile (bins 0-1) of the 8-bin quality
    * calibration, 4 hash slots per source, struct-min representative
    * election. The oracle replays the binning CTEs plus the same
    * salted-md5 slot/uniform hashes and `min(struct_pack(...))`. */
  val prefPairs = Q(
    "ext_preference_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val binned = graft.ext.Curation.percentileBins(
        docs.select(col("doc_id"),
          graft.ext.TextStats.qualityScore(col("text")).as("quality")),
        "quality", "doc_id", bins = 8, boundedDistinct = true)
      graft.ext.Curation.preferencePairs(
        binned.join(docs.select(col("doc_id"), col("source")), "doc_id"),
        "doc_id", "source", "bin", "quality", hiMin = 6, loMax = 1,
        pairsPerSource = 4)
    },
    Some(s"""WITH $binnedCtes,
      base AS (
        SELECT b.doc_id, s.source, b.quality, b.bin,
          (('0x' || substring(md5('pref:u:' || CAST(b.doc_id AS VARCHAR)),
            1, 8))::BIGINT + 1) / 4294967296.0 AS u,
          ('0x' || substring(md5('pref:b:' || CAST(b.doc_id AS VARCHAR)),
            1, 8))::BIGINT % 4 AS pair_slot
        FROM binned b JOIN documents s USING (doc_id)),
      hi AS (
        SELECT source, pair_slot,
          (min(struct_pack(u := u, id := doc_id, q := quality))).id
            AS chosen_id,
          (min(struct_pack(u := u, id := doc_id, q := quality))).q
            AS chosen_q
        FROM base WHERE bin >= 6 GROUP BY 1, 2),
      lo AS (
        SELECT source, pair_slot,
          (min(struct_pack(u := u, id := doc_id, q := quality))).id
            AS rejected_id,
          (min(struct_pack(u := u, id := doc_id, q := quality))).q
            AS rejected_q
        FROM base WHERE bin <= 1 GROUP BY 1, 2)
      SELECT source, pair_slot, chosen_id, chosen_q,
        rejected_id, rejected_q
      FROM hi JOIN lo USING (source, pair_slot)"""))

  /** Bradley-Terry strengths ([[graft.ext.Curation.bradleyTerry]], 5 MM
    * rounds) fitted to a deterministic preference log: per source, each
    * doc "plays" its 1- and 2-back doc_id neighbors (bounded per-source
    * lag window — O(n) matches, a connected per-source comparison
    * chain) and the higher quality-bin wins; equal-bin matchups are
    * skipped. The oracle unrolls all 5 MM iterations as chained CTEs
    * (the PageRank precedent), replaying the virtual-draw
    * regularization, exact-decimal sums, and the mean-1 rescale
    * round-for-round. */
  val btStrengths = Q(
    "ext_bradley_terry",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // quality is 6-dp in [0,1] — bounded distinct support, so the
      // cut plan is the single percentile_disc aggregate (the r11
      // adjudication of the r9 sweep: the distributed rank-selection
      // subtree was a 1.5× floor move this input never needed)
      // spread the single-split documents scan BEFORE the composite
      // quality projection — qualityScore tokenizes + entropy-scans each
      // text, and on the 1-task scan that pass was the query's single
      // largest stage (2.8 s of 6.5 s, measured r14)
      val binned = Curation.percentileBins(
        docs.repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            TextStats.qualityScore(col("text")).as("quality")),
        "quality", "doc_id", bins = 8, boundedDistinct = true)
      val base = binned.join(docs.select(col("doc_id"), col("source")),
        "doc_id")
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val lagged = base.select(col("doc_id"), col("bin"),
        lag(col("doc_id"), 1).over(w).as("p1"),
        lag(col("bin"), 1).over(w).as("b1"),
        lag(col("doc_id"), 2).over(w).as("p2"),
        lag(col("bin"), 2).over(w).as("b2"))
      // both lag sides in ONE pass (explode, not union): a union of two
      // selects over `lagged` would execute the binning + window lineage
      // once per side
      val matches = lagged
        .select(col("doc_id"), col("bin"),
          explode(array(
            struct(col("p1").as("p"), col("b1").as("b")),
            struct(col("p2").as("p"), col("b2").as("b")))).as("m"))
        .select(col("doc_id"), col("bin"),
          col("m.p").as("p"), col("m.b").as("b"))
        .filter(col("p").isNotNull && col("bin") =!= col("b"))
        .select(
          when(col("bin") > col("b"), col("doc_id")).otherwise(col("p"))
            .as("winner"),
          when(col("bin") > col("b"), col("p")).otherwise(col("doc_id"))
            .as("loser"))
      Curation.bradleyTerry(matches, "winner", "loser", iters = 5)
    },
    Some {
      val iters = 5
      val iterCtes = (1 to iters).map { k =>
        s"""d$k AS MATERIALIZED (
        SELECT c.i,
          CAST(sum(CAST(c.n_ij / (wi.s + wj.s) AS DECIMAL(38,18)))
            AS DOUBLE) AS den
        FROM contests c
        JOIN s${k - 1} wi ON wi.i = c.i
        JOIN s${k - 1} wj ON wj.i = c.j
        GROUP BY c.i),
      r$k AS MATERIALIZED (
        SELECT w.i, w.bt_w / (d.den + 1.0 / (p.s + 1.0)) AS s
        FROM wins w JOIN d$k d USING (i) JOIN s${k - 1} p USING (i)),
      t$k AS (
        SELECT CAST(sum(CAST(s AS DECIMAL(38,18))) AS DOUBLE) AS ssum
        FROM r$k),
      s$k AS MATERIALIZED (
        SELECT i,
          s * (SELECT CAST(count(*) AS DOUBLE) FROM items) / ssum AS s
        FROM r$k, t$k)"""
      }.mkString(",\n      ")
      s"""WITH $binnedCtes,
      base AS (
        SELECT b.doc_id, b.bin, d.source
        FROM binned b JOIN documents d USING (doc_id)),
      lagged AS (
        SELECT doc_id, bin,
          lag(doc_id, 1) OVER w AS p1, lag(bin, 1) OVER w AS b1,
          lag(doc_id, 2) OVER w AS p2, lag(bin, 2) OVER w AS b2
        FROM base WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
      matches AS (
        SELECT CASE WHEN bin > b1 THEN doc_id ELSE p1 END AS w,
               CASE WHEN bin > b1 THEN p1 ELSE doc_id END AS l
        FROM lagged WHERE p1 IS NOT NULL AND bin <> b1
        UNION ALL
        SELECT CASE WHEN bin > b2 THEN doc_id ELSE p2 END,
               CASE WHEN bin > b2 THEN p2 ELSE doc_id END
        FROM lagged WHERE p2 IS NOT NULL AND bin <> b2),
      directed AS (SELECT w, l, count(*) AS nwl FROM matches GROUP BY 1, 2),
      contests AS MATERIALIZED (
        SELECT i, j, CAST(sum(n) AS BIGINT) AS n_ij FROM (
          SELECT w AS i, l AS j, nwl AS n FROM directed
          UNION ALL SELECT l AS i, w AS j, nwl AS n FROM directed) u
        GROUP BY i, j),
      items AS MATERIALIZED (SELECT DISTINCT i FROM contests),
      wins AS MATERIALIZED (
        SELECT g.i, coalesce(dw.wn, 0) AS n_wins, g.n_games,
          CAST(coalesce(dw.wn, 0) AS DOUBLE) + 0.5 AS bt_w
        FROM (SELECT i, CAST(sum(n_ij) AS BIGINT) AS n_games
              FROM contests GROUP BY i) g
        LEFT JOIN (SELECT w AS i, CAST(sum(nwl) AS BIGINT) AS wn
                   FROM directed GROUP BY w) dw USING (i)),
      s0 AS MATERIALIZED (SELECT i, 1.0 AS s FROM items),
      $iterCtes
      SELECT w.i AS item, w.n_wins, w.n_games, round(s.s, 6) AS strength
      FROM s$iters s JOIN wins w USING (i)"""
    },
    bench = true)

  /** URL-level dedup ([[graft.ext.Markup.urlDedup]]) over per-doc URLs
    * salted so every canonicalization rule is load-bearing: host case
    * flips with doc parity, a trailing slash appears on even ids, pure
    * tracking queries (dropped whole) vs mixed queries (`color=red`
    * survives, `utm_medium` dropped) rotate on id%3, and fragments on
    * id%4. Group key moduli (host %3, path %7) are small enough that
    * sf0.01 collapses ~12 raw spellings per canonical URL —
    * `n_raw_forms > 1` proves normalization, not string equality, formed
    * the groups. */
  val urlDedup = Q(
    "ext_url_dedup",
    (s, d) => graft.ext.Markup.urlDedup(
      Tables.documents(s, d).select(
        col("doc_id"),
        concat(
          lit("https://"),
          when(col("doc_id") % 2 === 0, lit("Shop")).otherwise(lit("shop")),
          col("doc_id") % 3, lit(".Example.COM/item/"), col("doc_id") % 7,
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=news&utm_campaign=c"), col("doc_id")))
            .when(col("doc_id") % 3 === 1, lit("?color=red&utm_medium=email"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit("#sec"), col("doc_id"))).otherwise(lit("")))
          .as("url")),
      "url", "doc_id"),
    Some("""WITH raw AS (
        SELECT doc_id,
          'https://'
          || CASE WHEN doc_id % 2 = 0 THEN 'Shop' ELSE 'shop' END
          || CAST(doc_id % 3 AS VARCHAR) || '.Example.COM/item/'
          || CAST(doc_id % 7 AS VARCHAR)
          || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 3 = 0
               THEN '?utm_source=news&utm_campaign=c' || doc_id
               WHEN doc_id % 3 = 1 THEN '?color=red&utm_medium=email'
               ELSE '' END
          || CASE WHEN doc_id % 4 = 0 THEN '#sec' || doc_id ELSE '' END
            AS url
        FROM documents),
      parts AS (
        SELECT doc_id, url,
          regexp_replace(regexp_replace(url, '#.*$', ''), '\?.*$', '')
            AS base,
          regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1)
            AS query
        FROM raw),
      canon AS (
        SELECT doc_id, url,
          lower(regexp_extract(base, '^(https?://[^/]*)', 1))
          || regexp_replace(
               regexp_replace(base, '^https?://[^/]*', ''), '/+$', '')
          || CASE WHEN len(list_filter(string_split(query, '&'),
               p -> NOT regexp_matches(p,
                 '^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$') AND p <> '')) > 0
             THEN '?' || array_to_string(list_filter(string_split(query, '&'),
               p -> NOT regexp_matches(p,
                 '^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$') AND p <> ''), '&')
             ELSE '' END AS url_canon
        FROM parts)
      SELECT url_canon, min(doc_id) AS representative_id,
        count(*) AS n_copies, count(DISTINCT url) AS n_raw_forms
      FROM canon GROUP BY 1"""))

  /** Control-char scrub + decode-health signals
    * ([[graft.ext.Markup.scrubControlChars]]) over a corpus salted with
    * BEL/US control bytes (doc_id%3 — scrubbed) and U+FFFD replacement
    * chars (doc_id%5 — counted, doc dropped via keep=0: replacement
    * chars mean the upstream DECODE corrupted the bytes; patching the
    * symptom would keep a mangled doc). */
  val ctrlScrub = Q(
    "ext_ctrl_scrub",
    (s, d) => graft.ext.Markup.scrubControlChars(
      Tables.documents(s, d).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" a\u0007b\u001Fc"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" x\uFFFDy"))
            .otherwise(lit(""))).as("text")),
      "text", "doc_id"),
    Some("""WITH raw AS (
        SELECT doc_id,
          text || CASE WHEN doc_id % 3 = 0
              THEN ' a' || chr(7) || 'b' || chr(31) || 'c' ELSE '' END
            || CASE WHEN doc_id % 5 = 0
              THEN ' x' || chr(65533) || 'y' ELSE '' END AS text
        FROM documents)
      SELECT doc_id,
        regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
          AS text_clean,
        length(text) - length(regexp_replace(text,
          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS n_ctrl_removed,
        length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
          AS n_replacement,
        CAST(length(text) = length(regexp_replace(text, chr(65533), '', 'g'))
          AS INT) AS keep
      FROM raw"""))

  /** Token-length histogram ([[graft.ext.TextStats.lengthHistogram]]):
    * fixed-width integer buckets (floating log2 would put boundary
    * lengths in different buckets per engine), cumulative token coverage
    * over the bounded bucket list — the max_seq_len planning table. */
  val lengthHistogram = Q(
    "ext_length_histogram",
    (s, d) => graft.ext.TextStats.lengthHistogram(
      Tables.documents(s, d), "text", width = 32),
    Some("""WITH t AS (
        SELECT len(string_split_regex(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS n_tok
        FROM documents),
      b AS (
        SELECT n_tok - (n_tok % 32) AS bucket_lo, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY 1)
      SELECT bucket_lo, n_docs, n_tokens,
        round(CAST(sum(n_tokens) OVER (ORDER BY bucket_lo) AS DOUBLE)
          / sum(n_tokens) OVER (), 6) AS cum_token_frac
      FROM b"""))

  /** Quality-signal correlation matrix — `q_corr_matrix`'s fused
    * one-pass shape applied to the curation signals themselves (quality
    * composite, stopword ratio, punct ratio, dup-token fraction): which
    * signals are redundant decides which gates are worth their scan cost
    * at 100 TB. All four signals are pure projections, so the whole
    * matrix is ONE scan + one wide aggregate; DECIMAL(38,6) sums +
    * identical parenthesization keep the cancellation-sensitive corr
    * bits hash-identical (the q_corr_matrix rules). */
  val signalCorr = Q(
    "ext_signal_corr",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val sigs = Seq(
        "quality" -> TextStats.qualityScore(col("text")),
        "stopword_ratio" -> TextStats.stopwordRatio(col("text")),
        "punct_ratio" -> TextStats.punctRatio(col("text")),
        "dup_token_frac" -> TextStats.dupTokenFrac(col("text")),
        "n_tok" -> TextStats.tokenCount(col("text")).cast("double"))
      val names = sigs.map(_._1)
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      // signals are 6-dp, so their PRODUCTS carry 12 decimal digits —
      // summing at scale 6 rounds them, and Spark (HALF_UP) and DuckDB
      // disagree on ties; scale 12 represents every product exactly
      def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 12))
      val base = Tables.documents(s, d)
        .select(sigs.map { case (n, c) => c.as(n) }: _*)
      val aggs =
        Seq(count(lit(1)).as("n")) ++
          names.map(c => sum(dec(col(c))).cast("double").as(s"s_$c")) ++
          names.map(c =>
            sum(dec(col(c) * col(c))).cast("double").as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(dec(col(a) * col(b))).cast("double").as(s"sp_${a}_$b") }
      val w = base.agg(aggs.head, aggs.tail: _*)
      val stackArgs = pairs.flatMap { case (a, b) =>
        // zero-variance guard: corr is UNDEFINED for a constant signal
        // (the synthetic corpus has no punctuation, so punct_ratio is
        // exactly that) — emit NULL, not a div-by-zero error; CASE WHEN
        // short-circuits, so the division never executes on that branch
        val d = sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
          sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
        Seq(lit(a), lit(b), when(d > 0, round(
          (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) / d,
          6)))
      }
      w.select(stack((lit(pairs.length) +: stackArgs): _*)
        .as(Seq("col_a", "col_b", "corr")))
    },
    Some {
      val dtSql = """round(1.0 -
        CAST(len(list_distinct(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')))
          AS DOUBLE)
        / len(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')), 6)"""
      val names = Seq("quality", "stopword_ratio", "punct_ratio",
        "dup_token_frac", "n_tok")
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      def ds(e: String) = s"CAST(sum(CAST($e AS DECIMAL(38,12))) AS DOUBLE)"
      val stats =
        names.map(c => s"${ds(c)} AS s_$c") ++
          names.map(c => s"${ds(s"$c * $c")} AS ss_$c") ++
          pairs.map { case (a, b) => s"${ds(s"$a * $b")} AS sp_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        // mirror Spark's when(d > 0) guard WITHOUT evaluating sqrt on a
        // cancellation-negative variance: DuckDB sqrt(neg) hard-errors
        // where Spark yields NaN -> NULL, so the domain check must come
        // first (variance > 0 on both sides <=> d > 0 modulo underflow,
        // which the nullif still catches identically on both engines)
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
          round(CASE WHEN (n * ss_$a - s_$a * s_$a) > 0
                      AND (n * ss_$b - s_$b * s_$b) > 0
            THEN (n * sp_${a}_$b - s_$a * s_$b)
              / nullif(sqrt(n * ss_$a - s_$a * s_$a)
                 * sqrt(n * ss_$b - s_$b * s_$b), 0) END, 6) AS corr
          FROM w"""
      }.mkString(" UNION ALL ")
      s"""WITH c0 AS (
          SELECT doc_id, $qcTokSql AS tc, $qcSrSql AS sr, $qcPrSql AS pr,
            $qcDrSql AS dr, $dtSql AS dt
          FROM documents),
        c AS (
          SELECT doc_id,
            ${qualityCompositeSql("tc", "sr", "pr", "dr")} AS quality,
            sr AS stopword_ratio, pr AS punct_ratio, dt AS dup_token_frac,
            CAST(tc AS DOUBLE) AS n_tok
          FROM c0),
        w AS (SELECT count(*) AS n, ${stats.mkString(", ")} FROM c)
      $rows"""
    })

  /** Global top-k vocabulary ([[graft.ext.Vocab.topK]]): corpus word
    * counts → TakeOrderedAndProject under the (c desc, tok asc) total
    * order — per-partition bounded top-k, no single-reducer sort. */
  val vocabTopk = Q(
    "ext_vocab_topk",
    (s, d) => graft.ext.Vocab.topK(Tables.documents(s, d), "text", 50),
    Some("""WITH t AS (
        SELECT unnest(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+')) AS tok
        FROM documents)
      SELECT tok, count(*) AS c FROM t GROUP BY 1
      ORDER BY c DESC, tok ASC LIMIT 50"""))

  /** Corpus tokenization to id sequences
    * ([[graft.ext.Vocab.tokenizeToIds]]): frequency-rank ids over the
    * top-200 vocabulary, UNK = 0. The oracle rebuilds the same ranking
    * (identical total order) and restores order with `list(... ORDER BY
    * pos)`; exact integers end to end.
    *
    * The id sequence is emitted as a comma-joined STRING, not an array
    * column (same reason as `ext_multimodal_resize`): the driver's
    * compare sorts result values through pandas, which cannot hash
    * ndarray cells. */
  val tokenizeIds = Q(
    "ext_tokenize_ids",
    (s, d) => graft.ext.Vocab.tokenizeToIds(
        Tables.documents(s, d), "text", "doc_id", vocabSize = 200)
      .select(col("doc_id"),
        concat_ws(",",
          transform(col("token_ids"), i => i.cast("string")))
          .as("token_ids_csv"),
        col("n_tokens"), col("n_unk")),
    Some("""WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \t\n\x0B\f\r]+') AS t
        FROM documents),
      ex AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)),
            i -> struct_pack(pos := i, tok := t[i]))) AS s
        FROM toks),
      flat AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM ex),
      cnt AS (SELECT tok, count(*) AS c FROM flat GROUP BY 1),
      ranked AS (
        SELECT tok, id FROM (
          SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS id
          FROM cnt) WHERE id <= 200)
      SELECT f.doc_id,
        array_to_string(
          list(CAST(coalesce(r.id, 0) AS VARCHAR) ORDER BY f.pos), ',')
          AS token_ids_csv,
        count(*) AS n_tokens,
        CAST(count(*) FILTER (r.id IS NULL) AS BIGINT) AS n_unk
      FROM flat f LEFT JOIN ranked r USING (tok)
      GROUP BY f.doc_id"""))

  /** One unrolled BPE iteration as chained CTEs (the PageRank-oracle
    * pattern): count adjacent symbol pairs weighted by word count →
    * 1-row argmax `b\$i` (n desc, l asc, r asc — bpeTrain's total order)
    * → apply the merge with Sennrich's greedy LEFT-TO-RIGHT
    * non-overlapping rule, replayed positionally: matched positions
    * (sym, nxt) = (l, r) group into runs of consecutive indices
    * (gaps-and-islands `j − row_number`), a run takes its 1st, 3rd, …
    * members (exactly the pairs the sequential fold merges — a symbol
    * produced by this merge never re-merges this pass), and position
    * j+1 of a taken match is covered (lag window). `MATERIALIZED` on the
    * multiply-referenced vocab/argmax CTEs: DuckDB inlines CTEs by
    * default and 10 chained iterations would re-evaluate exponentially. */
  private def bpeIterSql(i: Int): String = {
    val p = s"v${i - 1}"
    s"""p$i AS (
    SELECT s[j] AS l, s[j+1] AS r, sum(c) AS n
    FROM $p, unnest(generate_series(1, len(s) - 1)) AS u(j)
    GROUP BY 1, 2),
  b$i AS MATERIALIZED (
    SELECT l, r, n FROM p$i ORDER BY n DESC, l ASC, r ASC LIMIT 1),
  e$i AS (
    SELECT wid, c, j, s[j] AS sym, s[j+1] AS nxt
    FROM $p, unnest(generate_series(1, len(s))) AS u(j)),
  m$i AS (
    SELECT e.wid, e.c, e.j, e.sym, e.nxt,
      CASE WHEN e.nxt IS NOT NULL AND e.sym = b.l AND e.nxt = b.r
           THEN 1 ELSE 0 END AS matched
    FROM e$i e, b$i b),
  g$i AS (
    SELECT *, j - row_number() OVER (PARTITION BY wid, matched ORDER BY j)
      AS grp
    FROM m$i),
  t$i AS (
    SELECT wid, c, j, sym, nxt,
      CASE WHEN matched = 1 AND (row_number() OVER
        (PARTITION BY wid, matched, grp ORDER BY j)) % 2 = 1
      THEN 1 ELSE 0 END AS taken
    FROM g$i),
  o$i AS (
    SELECT * FROM (
      SELECT wid, c, j, sym, nxt, taken,
        coalesce(lag(taken) OVER (PARTITION BY wid ORDER BY j), 0)
          AS prevtaken
      FROM t$i)
    WHERE taken = 1 OR prevtaken = 0),
  v$i AS MATERIALIZED (
    SELECT wid, min(c) AS c,
      list(CASE WHEN taken = 1 THEN sym || nxt ELSE sym END ORDER BY j) AS s
    FROM o$i GROUP BY wid)"""
  }

  /** BPE merge learning ([[graft.ext.Vocab.bpeTrain]]): first 10 learned
    * merge rules over the corpus vocabulary. The oracle unrolls all 10
    * argmax+apply iterations over the word vocabulary as chained CTEs
    * ([[bpeIterSql]]) — closing the registry's last rows-only gap; the
    * hand-computed Sennrich fixture in ExtSpec still pins the Spark-side
    * merge fold independently. Fixed 10-iteration unroll is valid while
    * every learned pair count stays ≥ 2 (bpeTrain's early-stop floor) —
    * true at every test SF; a corpus small enough to stop early would
    * surface as a row-count mismatch, not silent drift. */
  val bpeMerges = Q(
    "ext_bpe_merges",
    (s, d) => {
      import s.implicits._
      graft.ext.Vocab.bpeTrain(Tables.documents(s, d), "text", nMerges = 10)
        .zipWithIndex
        .map { case ((l, r, n), i) => (i + 1, l, r, n) }
        .toDF("rank", "lhs", "rhs", "pair_count")
    },
    Some {
      val finals = (1 to 10).map(i =>
        s"SELECT CAST($i AS INT) AS rank, l AS lhs, r AS rhs, " +
          s"CAST(n AS BIGINT) AS pair_count FROM b$i")
        .mkString("\n      UNION ALL ")
      s"""WITH ${bpeChainSql(10)}
  $finals"""
    })

  /** The word-vocab → initial symbols → n unrolled merge iterations CTE
    * chain, shared by the `ext_bpe_merges` and `ext_bpe_compression`
    * oracles (one definition — the oracle-drift rule). */
  private def bpeChainSql(n: Int): String =
    s"""words AS MATERIALIZED (
    SELECT tok, count(*) AS c FROM (
      SELECT unnest(string_split_regex(${wsTrimSql("lower(text)")},
        '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents) GROUP BY 1),
  v0 AS MATERIALIZED (
    SELECT tok AS wid, c,
      list_append(string_split_regex(tok, ''), '</w>') AS s
    FROM words),
  ${(1 to n).map(bpeIterSql).mkString(",\n  ")}"""

  /** Tokenizer compression evaluation
    * ([[graft.ext.Vocab.bpeCompressionStats]]): corpus totals and the
    * two standard ratios after the 10 learned merges. The oracle reuses
    * the `ext_bpe_merges` CTE chain and aggregates the final vocabulary
    * — exact integer totals, ratios rounded once. */
  val bpeCompression = Q(
    "ext_bpe_compression",
    (s, d) => graft.ext.Vocab.bpeCompressionStats(
      Tables.documents(s, d), "text", nMerges = 10),
    Some(s"""WITH ${bpeChainSql(10)},
      agg AS (
        SELECT CAST(sum(c) AS BIGINT) AS total_words,
          CAST(sum(c * len(s)) AS BIGINT) AS total_subwords,
          CAST(sum(c * length(wid)) AS BIGINT) AS total_chars
        FROM v10)
      SELECT total_words, total_subwords, total_chars,
        round(total_subwords / CAST(total_words AS DOUBLE), 6)
          AS subwords_per_word,
        round(total_chars / CAST(total_subwords AS DOUBLE), 6)
          AS chars_per_subword
      FROM agg"""))

  def all: Seq[Q] = Seq(
    gopherGates, htmlStrip, nfcNormalize, urlDomains, sourceMix,
    vocabTopk, tokenizeIds, bpeMerges, bpeCompression, ccnetBuckets,
    textStats, quality, langid, piiRedact, fingerprint, lineDedup, bm25,
    bm25Prf, charEntropy,
    hybridRrf, repetition, hashSplit, contamination, contaminationBloom,
    quantize, packOffsets, packBins, packFill, invertedIndex, indexLookup,
    indexDelta,
    chunkDocs, simInt8, keywords,
    dedupExact, dedupIncremental, dedupIncrementalLsh, dedupLshGrow,
    dedupLshGrowPruned, dedupLshGrowCompact, dedupMinhash,
    dedupContainment,
    dedupEditDistance, pagerank, hitsQ, trianglesQ, labelPropQ, kcoreQ,
    dedupNgram, dedupPrefixFilter, dedupSimhash,
    dedupSimhashPairs,
    dedupComponents, dedupClusterSizes, clusterSplit, softDedupWeights,
    dedupKeepBest,
    sourceCap,
    snapshotDiff, thresholdSweep, minhashErrEval, corpusBuildE2e,
    corpusBuildFunnel, corpusBuildIncr, corpusBuildIncrFunnel,
    corpusBuildDay3, corpusBuildDay3Funnel, streamCorpusCommit,
    corpusDqStream, shardManifest, sourceOverlap,
    cosineNearDup, semanticDedup,
    simBrute, simEval, simHardNegatives, simSemiHardNegatives, simBitextMargin, simLsh, simLshRh, simIvf, simIvfDisk, simIvfStreamGrow, simPq, simIvfPq,
    rpReduce, rpRecallQ, mmrRerankQ, sparseCosine, ndcgQ,
    clusterBalanced, simCentroids,
    mmMeta, mmFeatures, mmFrames, mmResize, mmPhash, mmDhash,
    kmvDistinct, detSample,
    quantileSketch, stratifiedSample,
    llmCorpus,
    langidTrigram, cmsHeavy, cmsErrEval, cmsMergeEpochs, weightedSample,
    lmScore, bigramLm,
    qualityClassifier,
    dupNgramCov, winnow,
    removeSpans,
    urlDedup, lengthHistogram, ctrlScrub, signalCorr,
    temperatureMix, tokenBudget, dsirWeights, scoreBins, compaction,
    prefPairs, btStrengths, driftPsi,
    kAnon, kAnonSuppress, lDiversity, tCloseness, dpHistogram, momentsProfile,
    aggMerge,
    imputeMissing, ngramDiversity, classifierAuc, classifierCalibration,
    classifierFit, splitLeakage,
    corpusReport)
}
