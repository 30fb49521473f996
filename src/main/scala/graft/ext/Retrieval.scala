package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval over the corpus: BM25 (Robertson/Spärck Jones
  * probabilistic weighting, the Lucene `ln(1 + (N-df+0.5)/(df+0.5))`
  * non-negative idf variant).
  *
  * Scale (100 TB): per-doc term frequencies and document length are ONE
  * codegen'd projection pass (only `text` + key columns read); the corpus
  * statistics (N, Σdl, per-term df) are ONE wide aggregate producing a
  * single row that joins back as a broadcast — no per-term shuffle, no
  * inverted index materialization. The final top-k uses the bounded-heap
  * [[graft.functions.TopKAgg]], so partial aggregation shrinks candidates
  * to ≤k per partition map-side and no reducer ever sees the full scored
  * corpus.
  *
  * Determinism contract (DuckDB-oracle hash parity): the only
  * transcendental — each term's idf — is rounded to 6 dp before use, so a
  * last-ulp `ln` divergence between libm implementations cannot survive;
  * everything else is plain IEEE arithmetic evaluated in the same
  * left-associated order on both engines, and every constant is
  * interpolated from the SAME Scala double (shortest round-trip repr), so
  * the scores are bit-identical, not just close.
  */
object Retrieval {

  /** Per-term BM25 score columns for a doc frame that already carries
    * `dl` (doc length), `tf$i`, corpus stats `n_docs`, `sum_dl`, `df$i`. */
  private def termScore(i: Int, k1: Double, b: Double): Column = {
    val tf = col(s"tf$i").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf6 = round(
      log(lit(1.0) + (col("n_docs") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))), 6)
    round(idf6 * (tf * lit(k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)), 6)
  }

  /** Global top-`k` documents by BM25 score for `queryTerms`.
    * Output: (idCol: long, score: double, rank: int), best-first. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = TextStats.tokens(lower(col(textCol)))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).as(s"tf$i")
    }
    // persisted: the tokenize+tf projection feeds BOTH the stats
    // aggregate and the scoring pass — uncached it would run twice,
    // doubling the dominant cost of the whole query
    val withTf = graft.ops.CacheScope.persist(docs.select(
      col(idCol) +: size(toks).as("dl") +: tfCols: _*))
    val stats = withTf.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))): _*)
    val score = queryTerms.indices.map(termScore(_, k1, b)).reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col(idCol).cast("long").as("id"),
        round(score, 6).as("score"))
      .groupBy()
      .agg(graft.functions.TopKAgg.top_k(col("score"), col("id"), k).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as(idCol), col("t.score").as("score"),
        col("t.rank").as("rank"))
  }

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (Rocchio/RM3-lite, the
    * classic two-round query expansion): round 1 ranks with the
    * original terms; the top `fbDocs` documents are assumed relevant;
    * their most informative terms (Σtf·idf, stop-terms above
    * `maxDfFrac` pruned, original terms excluded) become `fbTerms`
    * expansion terms; round 2 re-ranks with the expanded term set.
    *
    * Unlike [[bm25TopK]]'s compile-time per-term tf columns, BOTH
    * rounds here score RELATIONALLY — postings joined to a term frame —
    * because the expansion terms are data-dependent: the feedback loop
    * stays entirely on the executors (no driver collect; the expansion
    * terms flow as a bounded broadcast frame, selected by the
    * bounded-heap [[graft.functions.TopKAgg]]). Per-(doc, term)
    * scores are 6-dp-rounded then summed through exact DECIMAL(38,12)
    * (the sparse-cosine rule) so term-arrival order cannot move the
    * hash.
    *
    * Scale: the postings index (doc_id, dl, term, tf) is built once
    * and persisted — it feeds round-1 scoring, expansion mining, and
    * round-2 scoring; every join against it is term- or doc-keyed with
    * the tiny side broadcast; both rank selections are bounded-heap
    * top-k, never global sorts. */
  def bm25PrfTopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int, fbDocs: Int = 5, fbTerms: Int = 3,
      k1: Double = 1.2, b: Double = 0.75, maxDfFrac: Double = 0.5)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(queryTerms.nonEmpty, "bm25PrfTopK needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val post = graft.ops.CacheScope.persist(docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextStats.tokens(lower(col(textCol))).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val stats = post.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dft = graft.ops.CacheScope.persist(
      post.groupBy("term").agg(count(lit(1)).as("df")))
    val idf6 = round(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    // per-doc BM25 against an arbitrary (bounded, broadcast) term frame
    def scoreAgainst(qt: DataFrame): DataFrame = {
      val term = round(idf6 * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
          (col("sum_dl").cast("double") / col("n_docs")))), 6)
      post.join(broadcast(qt), Seq("term"))
        .join(dft, Seq("term")).crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(round(sum(term.cast(DecimalType(38, 12))).cast("double"), 6)
          .as("score"))
    }
    val q0 = queryTerms.toDF("term")
    val fb = scoreAgainst(q0).groupBy()
      .agg(graft.functions.TopKAgg.top_k(
        col("score"), col("doc_id"), fbDocs).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as("doc_id"))
    val expSum = post.join(broadcast(fb), Seq("doc_id"))
      .groupBy("term").agg(sum(col("tf")).as("stf"))
    val expTerms = expSum.join(dft, Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("df").cast("double") / col("n_docs") <= lit(maxDfFrac))
      .join(broadcast(q0), Seq("term"), "left_anti")
      .select(col("term"), round(col("stf") * idf6, 6).as("w"))
      .groupBy()
      .agg(graft.functions.TopKAgg.top_k_str(
        col("w"), col("term"), fbTerms).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.key").as("term"))
    val q1 = q0.union(expTerms).distinct()
    scoreAgainst(q1).groupBy()
      .agg(graft.functions.TopKAgg.top_k(
        col("score"), col("doc_id"), k).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as(idCol), col("t.score").as("score"),
        col("t.rank").as("rank"))
  }

  /** DuckDB replay of [[bm25PrfTopK]]: postings-relational BM25 for
    * both rounds, feedback docs / expansion terms / final ranks picked
    * with the same (score DESC, id ASC) total orders. */
  def bm25PrfOracleSql(queryTerms: Seq[String], k: Int,
      fbDocs: Int = 5, fbTerms: Int = 3,
      k1: Double = 1.2, b: Double = 0.75, maxDfFrac: Double = 0.5)
      : String = {
    val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    val qlist = queryTerms.map(t => s"'$t'").mkString(", ")
    // identical per-(doc, term) score spelling for both rounds; every
    // constant rides CAST(.. AS DOUBLE) so DuckDB cannot fall back to
    // exact DECIMAL arithmetic where Spark multiplies doubles
    def scoreCte(name: String, qt: String) = s"""$name AS (
        SELECT p.doc_id,
          round(CAST(sum(CAST(
            round(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
              * (p.tf * CAST(${k1 + 1} AS DOUBLE))
              / (p.tf + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE)
                + CAST($b AS DOUBLE) * p.dl
                  / (CAST(sum_dl AS DOUBLE) / n_docs))), 6)
            AS DECIMAL(38, 12))) AS DOUBLE), 6) AS score
        FROM post p JOIN $qt USING (term) JOIN dft USING (term)
        CROSS JOIN st
        GROUP BY 1)"""
    s"""WITH toks AS (
        SELECT doc_id,
          string_split_regex(trim(lower(text), $ws),
            '[ \\t\\n\\x0B\\f\\r]+') AS tk
        FROM documents),
      post AS MATERIALIZED (
        SELECT doc_id, dl, term, count(*) AS tf FROM (
          SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
        GROUP BY 1, 2, 3),
      dls AS (SELECT DISTINCT doc_id, dl FROM post),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dls),
      dft AS MATERIALIZED (
        SELECT term, count(*) AS df FROM post GROUP BY 1),
      q0 AS (SELECT unnest([$qlist]) AS term),
      ${scoreCte("sc0", "q0")},
      fb AS (SELECT doc_id FROM sc0
        ORDER BY score DESC, doc_id LIMIT $fbDocs),
      expsum AS (
        SELECT p.term, CAST(sum(p.tf) AS BIGINT) AS stf
        FROM post p JOIN fb USING (doc_id) GROUP BY 1),
      expd AS (
        SELECT e.term,
          round(e.stf * round(ln(1.0 + (n_docs - df + 0.5)
            / (df + 0.5)), 6), 6) AS w
        FROM expsum e JOIN dft USING (term) CROSS JOIN st
        WHERE CAST(df AS DOUBLE) / n_docs <= CAST($maxDfFrac AS DOUBLE)
          AND e.term NOT IN (SELECT term FROM q0)),
      expt AS (SELECT term FROM expd ORDER BY w DESC, term LIMIT $fbTerms),
      q1 AS (SELECT term FROM q0 UNION SELECT term FROM expt),
      ${scoreCte("sc1", "q1")}
      SELECT doc_id, score,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
          AS rank
      FROM sc1 ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the language-modeling alternative to BM25's
    * probabilistic weighting: score(q, d) = Σ_t log p(t|θ_d) with
    * p(t|θ_d) = (tf + μ·p(t|C)) / (dl + μ). Computed in the
    * rank-equivalent DECOMPOSED form
    *   Σ_{t∈q∩d} ln(1 + tf/(μ·p(t|C)))  +  |q|·ln(μ/(dl+μ))
    * which is the scale trick that makes LM scoring feasible on a
    * large corpus: the first term needs only MATCHING postings (a
    * term-keyed join against the broadcast query-term frame), the
    * second is a per-doc projection off the doc-length frame — no
    * per-(doc, term) smoothing pass over the full vocabulary ever
    * runs. Query terms absent from the corpus (ctf = 0) are dropped,
    * the standard OOV rule (their smoothed probability is undefined);
    * |q| counts the surviving terms.
    *
    * Determinism: the two transcendentals — each matched term's
    * ln(1 + ·) and the per-doc length normalizer — are rounded to 6 dp
    * at the row, matched contributions summed through exact
    * DECIMAL(38,12); final score rounds 6 dp. Top-k via the
    * bounded-heap [[graft.functions.TopKAgg]] (≤k per partition
    * map-side). */
  def qlDirichletTopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int, mu: Double = 300.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(queryTerms.nonEmpty, "qlDirichletTopK needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val post = graft.ops.CacheScope.persist(docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextStats.tokens(lower(col(textCol))).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val dls = docs.select(col(idCol).cast("long").as("doc_id"),
      size(TextStats.tokens(lower(col(textCol)))).as("dl"))
    // corpus stats: total token mass C, and per-query-term collection
    // frequency (bounded by |q| rows — broadcast both)
    val ctf = post.filter(col("term").isin(queryTerms: _*))
      .groupBy("term").agg(sum(col("tf")).as("ctf"))
    val stats = dls.agg(sum(col("dl")).as("c_total"))
      .crossJoin(ctf.agg(count(lit(1)).as("qn")))
    val w = round(log(lit(1.0) + col("tf").cast("double") /
      (lit(mu) * (col("ctf").cast("double") / col("c_total")))), 6)
    val matched = post
      .join(broadcast(ctf), Seq("term"))
      .crossJoin(broadcast(stats.select(col("c_total"))))
      .groupBy("doc_id")
      .agg(sum(w.cast(DecimalType(38, 12))).cast("double").as("msum"))
    val lenNorm = round(log(lit(mu) / (col("dl") + lit(mu))), 6)
    dls.join(matched, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats.select(col("qn"))))
      .select(col("doc_id"),
        round(coalesce(col("msum"), lit(0.0)) + col("qn") * lenNorm, 6)
          .as("score"))
      .groupBy()
      .agg(graft.functions.TopKAgg.top_k(col("score"), col("doc_id"), k)
        .as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as(idCol), col("t.score").as("score"),
        col("t.rank").as("rank"))
  }

  /** DuckDB replay of [[qlDirichletTopK]] — identical decomposition,
    * rounding sites, and (score DESC, doc_id) total order. */
  def qlDirichletOracleSql(queryTerms: Seq[String], k: Int,
      mu: Double = 300.0): String = {
    val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    val qlist = queryTerms.map(t => s"'$t'").mkString(", ")
    val muD = s"CAST($mu AS DOUBLE)"
    s"""WITH toks AS (
        SELECT doc_id,
          string_split_regex(trim(lower(text), $ws),
            '[ \\t\\n\\x0B\\f\\r]+') AS tk
        FROM documents),
      post AS MATERIALIZED (
        SELECT doc_id, dl, term, count(*) AS tf FROM (
          SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
        GROUP BY 1, 2, 3),
      dls AS (SELECT doc_id, len(tk) AS dl FROM toks),
      ctf AS MATERIALIZED (
        SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
        FROM post WHERE term IN ($qlist) GROUP BY 1),
      st AS (SELECT
          (SELECT CAST(sum(dl) AS BIGINT) FROM dls) AS c_total,
          (SELECT count(*) FROM ctf) AS qn),
      matched AS (
        SELECT p.doc_id,
          CAST(sum(CAST(
            round(ln(CAST(1.0 AS DOUBLE) + CAST(p.tf AS DOUBLE)
              / ($muD * (CAST(c.ctf AS DOUBLE) / st.c_total))), 6)
            AS DECIMAL(38, 12))) AS DOUBLE) AS msum
        FROM post p JOIN ctf c USING (term) CROSS JOIN st
        GROUP BY 1),
      scored AS (
        SELECT d.doc_id,
          round(coalesce(m.msum, CAST(0.0 AS DOUBLE))
            + st.qn * round(ln($muD / (d.dl + $muD)), 6), 6) AS score
        FROM dls d LEFT JOIN matched m ON d.doc_id = m.doc_id
        CROSS JOIN st)
      SELECT doc_id, score,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
          AS rank
      FROM scored ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Sparse TF-IDF cosine top-k: document-to-document similarity
    * through the INVERTED-INDEX join — the lexical twin of the dense
    * ANN family. Per doc-term: w = tf · idf (idf = ln(N/df), 6-dp);
    * per query doc, cos = Σ_t w_q·w_d / (‖q‖·‖d‖) over shared terms,
    * computed by joining the query batch's postings to the corpus
    * postings ON TERM — candidate pairs are exactly the docs sharing a
    * surviving term, never all pairs.
    *
    * Scale: ONE term-keyed shuffle produces the partial products,
    * combined map-side into (q, d) dots; stop-term pruning
    * (df/N > `maxDfFrac` dropped) bounds the posting fan-out the way
    * every sparse retriever must — a stopword term would otherwise
    * contribute |batch|·df candidate pairs. Norms and dots sum w
    * products through exact DECIMAL(38,12) (the Det.dsum rule), so the
    * join-order-dependent float summation cannot break the hash gate;
    * final top-k is the bounded-heap aggregate.
    *
    * `queryPred` filters on `doc_id` (the bounded query batch, the ANN
    * contract). */
  def sparseCosineTopK(docs: DataFrame, textCol: String, idCol: String,
      queryPred: Column, k: Int, maxDfFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = graft.ops.CacheScope.persist(
      docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextStats.tokens(lower(col(textCol)))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = tf.join(dfT, "term").crossJoin(broadcast(stats))
      .filter(col("df").cast("double") / col("n_docs") <= lit(maxDfFrac))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          round(log(col("n_docs").cast("double") / col("df")), 6)).as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum((col("w") * col("w")).cast(DecimalType(38, 12)))
        .cast("double")).as("nrm"))
    // persisted: the weighted-postings-with-norms frame IS the sparse
    // index artifact, and both join sides (query batch + corpus) read
    // it — uncached, the tokenize→df→weight→norm subtree would build
    // TWICE, doubling the dominant cost
    val wn = graft.ops.CacheScope.persist(w.join(norms, "doc_id"))
    val q = wn.filter(queryPred)
      .select(col("term"), col("doc_id").as("q_id"), col("w").as("qw"),
        col("nrm").as("q_nrm"))
    val d = wn.select(col("term"), col("doc_id").as("d_id"),
      col("w").as("dw"), col("nrm").as("d_nrm"))
    val dots = d.join(q, "term")
      .filter(col("q_id") =!= col("d_id"))
      .groupBy(col("q_id"), col("d_id"), col("q_nrm"), col("d_nrm"))
      .agg(sum((col("qw") * col("dw")).cast(DecimalType(38, 12))).as("dot"))
    val scored = dots.select(col("q_id").as("query_id"),
      col("d_id").as("neighbor_id"),
      round(col("dot").cast("double") / (col("q_nrm") * col("d_nrm")), 6)
        .as("cos"))
    Similarity.topKPerQuery(scored, k)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al. 2009:
    * score = Σ_legs 1/(rrfK + rank)) of a BM25 lexical leg and an
    * embedding-cosine semantic leg, the standard two-tower RAG retrieval
    * shape. Docs and embeddings share the id space (`vec_id = doc_id`).
    *
    * Scale: each leg is already bounded (its own top-`n` via the
    * bounded-heap aggregate), so the fusion full-outer join touches at
    * most 2n rows — driver-free, broadcast-sized regardless of corpus.
    * Determinism: ranks are ints, 1/(rrfK+rank) is the same IEEE double
    * on both engines, legs sum in fixed order, 6-dp round. */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame,
      textCol: String, idCol: String,
      queryTerms: Seq[String], queryVecId: Long, k: Int,
      n: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = bm25TopK(docs, textCol, idCol, queryTerms, n)
      .select(col(idCol).cast("long").as("lex_id"),
        col("rank").as("lex_rank"))
    val sem = Similarity.bruteForceTopK(emb, col("vec_id") === queryVecId, n)
      .select(col("neighbor_id").as("sem_id"), col("rank").as("sem_rank"))
    lex.join(sem, col("lex_id") === col("sem_id"), "full_outer")
      .select(
        coalesce(col("lex_id"), col("sem_id")).as("id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)),
          6).as("rrf"))
      .groupBy()
      .agg(graft.functions.TopKAgg.top_k(col("rrf"), col("id"), k).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.id").as(idCol), col("t.score").as("score"),
        col("t.rank").as("rank"))
  }

  /** Top-`m` TF-IDF keywords per document (smooth idf:
    * ln((N+1)/(df+1)) + 1, the sklearn formulation). Plan: one explode →
    * (doc, term) hash aggregate → term-keyed df aggregate joined back →
    * per-doc ranking window PARTITIONED BY doc (the partition key is the
    * document — thousands of tiny partitions, never a global sort). The
    * idf is rounded to 6 dp before the product so libm ulp divergence
    * cannot reach the scores. */
  def tfidfKeywords(docs: DataFrame, textCol: String, idCol: String,
      m: Int): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(TextStats.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        round(col("tf") *
          round(log((col("n_docs") + 1) / (col("df") + 1)) + lit(1.0), 6),
          6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
  }

  /** Top distinguishing terms PER GROUP — cluster/source labeling, the
    * human-readable annotation step after any corpus partitioning
    * (near-dup clustering, source routing, k-means topics): score =
    * group term frequency × ln(G/df) where df counts the GROUPS
    * containing the term, so corpus-wide boilerplate (df = G) scores
    * exactly 0 and what survives is what makes the group itself.
    *
    * Scale: one explode → (group, term) hash aggregate collapses the
    * corpus to group-vocabulary grain; df is a term-keyed aggregate
    * OVER that frame (never the corpus); the group count rides a 1-row
    * broadcast. Ranking is the grouped bounded-heap
    * [[graft.functions.TopKAgg]] — NOT a `row_number` window: a
    * window partitioned by group would funnel a dominant source's
    * entire distinct-term vocabulary (10⁸+ rows on web-scale text)
    * through one task's sort, while the heap partial keeps ≤k
    * (score, term) pairs per (group, partition) map-side, so the
    * exchange carries k·partitions rows per group, never the
    * vocabulary. Same (score desc, term asc) total order as the window
    * over the 6-dp-rounded finite scores — the DuckDB window oracle
    * stays hash-exact. The winners then join back to the persisted
    * scored frame (unique on (group, term) both sides) to recover
    * tf/df. */
  def groupTopTerms(docs: DataFrame, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    val tf = graft.ops.CacheScope.persist(
      docs.select(col(groupCol),
        explode(TextStats.tokens(lower(col(textCol)))).as("term"))
        .groupBy(col(groupCol), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nGroups = tf.agg(countDistinct(col(groupCol)).as("n_groups"))
    val scored = graft.ops.CacheScope.persist(
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nGroups))
        .select(col(groupCol), col("term"), col("tf"), col("df"),
          round(col("tf") *
            round(log(col("n_groups").cast("double")
              / col("df").cast("double")), 6), 6).as("score")))
    val top = scored.groupBy(col(groupCol))
      .agg(graft.functions.TopKAgg.top_k_str(
        col("score"), col("term"), k).as("tk"))
      .select(col(groupCol), explode(col("tk")).as("t"))
      .select(col(groupCol), col("t.key").as("term"),
        col("t.rank").as("rank"))
    top.join(scored, Seq(groupCol, "term"))
      .select(col(groupCol), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** DuckDB oracle SQL for [[hybridRrfTopK]] over `documents` +
    * `embeddings` (vec_id = doc_id). */
  def hybridRrfOracleSql(queryTerms: Seq[String], queryVecId: Long,
      k: Int, n: Int = 20, rrfK: Int = 60): String =
    s"""WITH lex AS (${bm25OracleSql(queryTerms, n)}),
      q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_emb,
          vec_id AS query_id
        FROM embeddings WHERE vec_id = $queryVecId),
      c AS (
        SELECT vec_id AS neighbor_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS b_emb
        FROM embeddings),
      sem0 AS (
        SELECT neighbor_id,
          round(list_dot_product(a_emb, b_emb)
            / (sqrt(list_dot_product(a_emb, a_emb))
               * sqrt(list_dot_product(b_emb, b_emb))), 6) AS cos
        FROM q JOIN c ON query_id != neighbor_id),
      sem AS (
        SELECT neighbor_id, rank FROM (
          SELECT neighbor_id,
            row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rank
          FROM sem0)
        WHERE rank <= $n),
      fused AS (
        SELECT coalesce(l.doc_id, s.neighbor_id) AS doc_id,
          round(coalesce(1.0 / ($rrfK + l.rank), 0)
            + coalesce(1.0 / ($rrfK + s.rank), 0), 6) AS rrf
        FROM lex l FULL JOIN sem s ON l.doc_id = s.neighbor_id)
      SELECT doc_id, rrf AS score,
        CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
      FROM fused ORDER BY rrf DESC, doc_id LIMIT $k"""

  /** DuckDB oracle SQL for [[bm25TopK]] over the `documents` table —
    * generated from the same constants so every double literal
    * round-trips to the identical value. */
  def bm25OracleSql(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val tfDefs = queryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x = '$t')) AS tf$i"
    }.mkString(",\n          ")
    val dfDefs = queryTerms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    // every constant rides through CAST(.. AS DOUBLE): a bare decimal
    // literal times a BIGINT column evaluates EXACTLY in DuckDB
    // (DECIMAL arithmetic) while Spark multiplies doubles — a ~1-ulp
    // divergence that could flip a 6-dp rounding boundary (the pagerank
    // oracle precedent)
    val terms = queryTerms.indices.map { i =>
      s"""round(round(ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)), 6)
            * (tf$i * CAST(${k1 + 1} AS DOUBLE)) /
            (tf$i + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE)
              + CAST($b AS DOUBLE) * dl
                / (CAST(sum_dl AS DOUBLE) / n_docs))), 6)"""
    }.mkString("\n          + ")
    s"""WITH tf AS (
        SELECT doc_id,
          len(string_split_regex(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '[ \\t\\n\\x0B\\f\\r]+')) AS dl,
          $tfDefs
        FROM documents),
      st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfDefs FROM tf),
      sc AS (
        SELECT doc_id, round($terms, 6) AS score
        FROM tf, st)
      SELECT doc_id, score,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Ranking-quality evaluation: per-query hits@k / recall@k /
    * precision@k / reciprocal rank against a relevance set — the eval
    * harness that closes the similarity/retrieval loop (an ANN index
    * without a recall number is a guess; the ExtSpec recall checks
    * become a first-class, oracle-checked table).
    *
    * `ranked` carries (query_id, neighbor_id, rank); `truth` carries
    * (query_id, doc_id) relevant pairs. Queries with relevant docs but
    * no ranked rows still appear (right-join via the truth aggregate);
    * recall divides by |relevant|, precision by k, and RR is
    * 1/first-relevant-rank (0.0 when nothing relevant was retrieved —
    * the MRR convention).
    *
    * Scale: one equi-join keyed (query_id, doc_id) + two hash
    * aggregates on query_id — truth and ranked are both top-k-sized
    * per query, never corpus-sized; no windows. Divisions are IEEE on
    * exact integer counts, 6-dp-rounded. */
  def rankingMetrics(ranked: DataFrame, truth: DataFrame, k: Int)
      : DataFrame = {
    val nRel = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_relevant"))
    val perQ = ranked.filter(col("rank") <= k)
      .join(truth.withColumnRenamed("doc_id", "neighbor_id")
        .withColumn("rel", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("rel"), lit(0))).as("hits_at_k"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"))
    nRel.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        round(coalesce(col("hits_at_k"), lit(0L))
          / col("n_relevant").cast("double"), 6).as("recall_at_k"),
        round(coalesce(col("hits_at_k"), lit(0L)) / lit(k.toDouble), 6)
          .as("precision_at_k"),
        coalesce(round(lit(1.0) / col("first_rel_rank"), 6), lit(0.0))
          .as("reciprocal_rank"))
  }

  /** nDCG@k with binary relevance: DCG = Σ_{hit at rank i} 1/log₂(i+1),
    * IDCG = the same sum over the first min(n_relevant, k) ranks,
    * nDCG = DCG/IDCG — the position-discounted ranking metric that
    * [[rankingMetrics]]' recall/precision/MRR miss (a hit at rank 1 and
    * a hit at rank k count the same to recall).
    *
    * Determinism: the k discount constants (transcendental log₂) are
    * computed ONCE in Scala, 6-dp rounded, and interpolated as
    * literals into BOTH the plan and the oracle SQL — libm cannot
    * diverge on a literal; DCG sums them through exact DECIMAL(18,6);
    * IDCG is read from the exact cumulative-sum literal array. Scale:
    * two k-row-per-query frames joined and aggregated — negligible
    * next to the ranking it evaluates. */
  def ndcgAtK(ranked: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val disc = ndcgDiscounts(k)
    val cum = disc.scanLeft(BigDecimal(0))(_ + _).tail
    val discCol = array(disc.map(d => lit(d.toDouble)): _*)
    val cumCol = array(cum.map(c => lit(c.toDouble)): _*)
    val nRel = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_relevant"))
    val hits = ranked.filter(col("rank") <= k)
      .join(truth.withColumnRenamed("doc_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(sum(element_at(discCol, col("rank"))
        .cast(DecimalType(18, 6))).as("dcg_dec"))
    nRel.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("dcg_dec").cast("double"), lit(0.0)).as("dcg"),
        element_at(cumCol,
          least(col("n_relevant"), lit(k.toLong)).cast("int")).as("idcg"))
      .withColumn("ndcg", round(col("dcg") / col("idcg"), 6))
  }

  /** The k 6-dp-rounded 1/log₂(i+1) discount constants — shared with
    * the oracle-SQL generator so plan and oracle interpolate the SAME
    * doubles. */
  def ndcgDiscounts(k: Int): Seq[BigDecimal] =
    (1 to k).map(i => BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP))

  /** Materialized inverted index with BOUNDED posting shards (the
    * offline retrieval-index build: term → doc_id-ordered postings,
    * split into shards of ≤ `shardPostings` entries each, Lucene-segment
    * style). `minDf` drops hapax terms (an index over once-only terms is
    * mostly noise and typically half the vocabulary).
    *
    * Scale (100 TB): the naive build — `collect_list` per term — puts a
    * stopword's ENTIRE corpus-sized posting list in one aggregation
    * buffer and one output row. Here every materialized array is bounded
    * by `shardPostings` instead, and the per-term posting rank that
    * drives sharding is computed with the [[Packing.packOffsets]]
    * two-phase shape on (term, doc_id) ranges: a hot term's postings
    * span MANY range partitions, each ranked locally in parallel, with
    * only the per-(partition, term) counts — one tiny row each —
    * crossing a prefix-sum window. No single task ever owns a full hot
    * posting list, which a `Window.partitionBy(term)` rank would force.
    *
    * Determinism: posting order (term, doc_id) is total, arithmetic
    * integral, shard arrays re-sorted by rank before join — bit-stable
    * across layouts and engines.
    *
    * Output: (term, shard_idx, df, n_postings, posting_docs,
    * posting_tfs) — docs/tfs comma-joined in doc_id order. */
  def invertedIndexShards(docs: DataFrame, textCol: String, idCol: String,
      shardPostings: Int, minDf: Long = 2): DataFrame =
    shardFromPostings(postingsOf(docs, textCol, idCol), shardPostings, minDf)

  /** (term, doc_id, tf) posting triples — one hash agg, map-side
    * combined. */
  private def postingsOf(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextStats.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Posting triples → bounded shards (the [[invertedIndexShards]]
    * core, shared with [[invertedIndexDelta]]'s re-shard of touched
    * terms). */
  private def shardFromPostings(postings: DataFrame, shardPostings: Int,
      minDf: Long): DataFrame = {
    require(shardPostings > 0, "shardPostings must be positive")
    // cache pins one set of range boundaries — see packOffsets' note
    val sorted = graft.ops.CacheScope.persist(
      postings.repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val pt = graft.ops.CacheScope.persist(
      sorted.groupBy(col("__pid"), col("term"))
        .agg(count(lit(1)).as("__c")))
    // per-(partition, term) exclusive prefix over partitions; pt is
    // #partitions-per-term-sized, not postings-sized
    val off = pt.withColumn("__off",
      coalesce(
        sum(col("__c")).over(
          Window.partitionBy("term").orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("term"), col("__off"))
    val termDf = pt.groupBy(col("term")).agg(sum(col("__c")).as("df"))
    val localW = Window.partitionBy("__pid", "term").orderBy("doc_id")
    sorted.join(off, Seq("__pid", "term"))
      .withColumn("__rk", col("__off") + row_number().over(localW) - 1)
      .join(termDf.filter(col("df") >= minDf), Seq("term"))
      .withColumn("shard_idx", expr(s"__rk div $shardPostings").cast("int"))
      .groupBy(col("term"), col("shard_idx"), col("df"))
      .agg(count(lit(1)).as("n_postings"),
        array_join(transform(
          array_sort(collect_list(struct(col("__rk"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ",")
          .as("posting_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("__rk"), col("tf")))),
          x => x.getField("tf").cast("string")), ",")
          .as("posting_tfs"))
  }

  /** Incremental index maintenance: fold a new APPEND-ONLY doc batch
    * into a prebuilt sharded index, re-sharding ONLY the terms the
    * batch touches — the base corpus is never re-read and untouched
    * terms' shards pass through byte-identical.
    *
    * Contract: `index` is [[invertedIndexShards]] output built with
    * minDf=1 (the index must retain hapax terms or a second occurrence
    * arriving later could not resurrect the first posting without a
    * base re-read); `minDf` filtering is applied HERE, on the merged
    * df. New doc_ids must be disjoint from the base's (append-only),
    * like the incremental-dedup archive contract.
    *
    * Scale (100 TB): the delta's vocabulary is the work bound — old
    * postings are fetched by a term-keyed join against the touched-term
    * set (on a term-clustered index file that is shard pruning at the
    * scan), re-exploded to q·df rows for touched terms only, and
    * re-ranked with the same two-phase shape. An un-touched stopword
    * costs nothing; a touched one costs its own postings, never the
    * corpus. Correctness is oracle-enforced as incremental ≡ full
    * rebuild over base ∪ batch. */
  def invertedIndexDelta(index: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, shardPostings: Int,
      minDf: Long = 2): DataFrame = {
    val newPostings = postingsOf(newDocs, textCol, idCol)
    val touched = newPostings.select(col("term")).distinct()
    val oldTouched = index.join(touched, Seq("term"))
      .select(col("term"),
        explode(zip_with(
          split(col("posting_docs"), ","), split(col("posting_tfs"), ","),
          (d, t) => struct(d.as("d"), t.as("t")))).as("p"))
      .select(col("term"), col("p.d").cast("long").as("doc_id"),
        col("p.t").cast("long").as("tf"))
    val reSharded = shardFromPostings(
      oldTouched.unionByName(newPostings), shardPostings, minDf)
    val untouched = index.join(touched, Seq("term"), "left_anti")
      .filter(col("df") >= minDf)
      .select(reSharded.columns.map(col): _*)
    reSharded.unionByName(untouched)
  }

  /** Conjunctive (AND) boolean retrieval served FROM the sharded
    * inverted index: docs containing every query term, with the summed
    * term frequency as a crude rank signal. Consumes
    * [[invertedIndexShards]] output — built inline here for the
    * self-contained registry query; at scale the index is a prebuilt
    * parquet keyed by term, so the term filter prunes to the query
    * terms' shards at the scan (predicate pushdown on the sort/cluster
    * key) and the posting re-explode touches q·df rows, never the
    * corpus. Matching is one hash aggregate on doc_id (count = #terms);
    * no self-join per term pair, which the classic posting-intersection
    * join would cost. A query term dropped by the index's `minDf` makes
    * the conjunction unsatisfiable through the index, by design — the
    * oracle replays that semantics. */
  def indexConjunctiveLookup(docs: DataFrame, textCol: String,
      idCol: String, queryTerms: Seq[String], shardPostings: Int,
      minDf: Long = 2): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    invertedIndexShards(docs, textCol, idCol, shardPostings, minDf)
      .filter(col("term").isin(terms: _*))
      .select(col("term"),
        explode(zip_with(
          split(col("posting_docs"), ","), split(col("posting_tfs"), ","),
          (d, t) => struct(d.as("d"), t.as("t")))).as("p"))
      .select(col("term"), col("p.d").cast("long").as("doc_id"),
        col("p.t").cast("long").as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("sum_tf"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — multi-word
    * keyphrases, where `tfidfKeywords`/`groupTopTerms` rank single
    * terms: candidate phrases are the maximal stopword-delimited word
    * runs; word score = deg(w)/freq(w) over the doc's own phrases
    * (deg = Σ lengths of phrases containing w — co-occurrence degree
    * incl. self); phrase score = Σ member word scores; top-k per doc.
    *
    * Everything is PER-DOCUMENT: the phrase-segmentation window
    * partitions by doc (frame = one doc's tokens, the q_sessions_gap
    * shape), freq/deg/phrase scores are (doc, ·)-keyed hash aggs, and
    * the per-doc top-k rides the bounded-heap
    * [[graft.functions.TopKAgg]] (≤k per (doc, partition)
    * map-side) — nothing corpus-grained anywhere.
    *
    * Determinism: word scores round(deg/freq, 6) from exact integer
    * counts; phrase scores DECIMAL(38,12)-summed then 6-dp; ties break
    * on the phrase string (the `top_k_str` total order ≡ the oracle's
    * ORDER BY score DESC, phrase). Duplicate phrase occurrences within
    * a doc score identically by construction and collapse to one row.
    *
    * Output: (doc_id, rank, phrase, score). */
  def rakeKeyphrases(docs: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "w")))
      .withColumn("stop", col("w").isin(stopwords: _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cand = graft.ops.CacheScope.persist(
      words.withColumn("grp", sum(col("stop").cast("int")).over(w))
        .filter(!col("stop") && col("w") =!= "")
        .select(col("doc_id"), col("grp"), col("pos"), col("w")))
    val phrases = graft.ops.CacheScope.persist(
      cand.groupBy(col("doc_id"), col("grp"))
        .agg(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w"))).as("phrase"),
          count(lit(1)).as("plen")))
    val wordScores = cand
      .join(phrases.select(col("doc_id"), col("grp"), col("plen")),
        Seq("doc_id", "grp"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("doc_id"), col("w"),
        round(col("deg").cast("double") / col("freq"), 6).as("wscore"))
    val phraseScores = cand
      .join(wordScores, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(round(graft.Det.dsumWide(col("wscore")), 6).as("score"))
      .join(phrases.select(col("doc_id"), col("grp"), col("phrase")),
        Seq("doc_id", "grp"))
      .select(col("doc_id"), col("phrase"), col("score"))
      .distinct()
    phraseScores.groupBy(col("doc_id"))
      .agg(graft.functions.TopKAgg.top_k_str(
        col("score"), col("phrase"), k).as("tk"))
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"), col("t.rank").as("rank"),
        col("t.key").as("phrase"), col("t.score").as("score"))
  }

  /** DuckDB replay of [[rakeKeyphrases]] over `documents` (single
    * ranking window — it runs at oracle SF). */
  def rakeOracleSql(stopwords: Seq[String], k: Int): String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH words AS MATERIALIZED (
        SELECT doc_id, pos, w, (w IN ($stops)) AS stop FROM (
          SELECT doc_id,
            unnest(string_split(lower(text), ' ')) AS w,
            unnest(generate_series(1,
              len(string_split(lower(text), ' ')))) AS pos
          FROM documents)),
      cand AS MATERIALIZED (
        SELECT doc_id, grp, pos, w FROM (
          SELECT doc_id, pos, w, stop,
            sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS grp
          FROM words)
        WHERE NOT stop AND w <> ''),
      phr AS MATERIALIZED (
        SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
          CAST(count(*) AS BIGINT) AS plen
        FROM cand GROUP BY 1, 2),
      ws AS (
        SELECT c.doc_id, c.w,
          round(CAST(sum(p.plen) AS DOUBLE) / count(*), 6) AS wscore
        FROM cand c JOIN phr p USING (doc_id, grp) GROUP BY 1, 2),
      ps AS (
        SELECT c.doc_id, c.grp,
          round(${graft.Det.dsumWideSql("wscore")}, 6) AS score
        FROM cand c JOIN ws ON c.doc_id = ws.doc_id AND c.w = ws.w
        GROUP BY 1, 2),
      dp AS (
        SELECT DISTINCT p.doc_id, p.phrase, s.score
        FROM phr p JOIN ps s USING (doc_id, grp)),
      rk AS (
        SELECT doc_id, phrase, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, phrase) AS rank
        FROM dp)
      SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score
      FROM rk WHERE rank <= $k"""
  }
}
