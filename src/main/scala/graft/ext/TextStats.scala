package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ScalarFns.strip

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.10):
  * token counting, quality scoring, language-ID, fingerprinting.
  *
  * Everything is a pure Catalyst expression over the `documents` table —
  * codegen'd, embarrassingly parallel, no shuffle — so cost at 100 TB is one
  * pass over the corpus with full column pruning (only `text` + keys read).
  */
object TextStats {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(strip(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word count: letter runs, single digits, and punctuation
    * each count as one token (a simplified GPT-2-style pre-tokenizer
    * regex). */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Quality-score components: length, mean word length, punctuation /
    * digit / uppercase / whitespace ratios, stopword ratio. All ratios are
    * rounded to 6 dp so results hash-stably across engines. */
  def charCount(text: Column): Column = length(text)

  def meanWordLen(text: Column): Column =
    round(length(regexp_replace(text, "\\s+", ""))
      / tokenCount(text).cast("double"), 6)

  /** NULL on empty text, not an ANSI divide-by-zero crash: an upstream
    * rewriting stage (PII redaction, duplicate-span excision) can
    * legitimately empty a document, and a NULL ratio makes the composite
    * score NULL so quality gates drop the doc — exactly what DuckDB's
    * NULL-on-double-division-by-zero produces on the oracle side. */
  private def ratioOf(text: Column, pattern: String): Column =
    when(length(text) > 0,
      round(size(regexp_extract_all(text, lit(pattern), lit(0)))
        / length(text).cast("double"), 6))

  def punctRatio(text: Column): Column = ratioOf(text, "[^A-Za-z0-9\\s]")
  def digitRatio(text: Column): Column = ratioOf(text, "[0-9]")

  /** Common English function words (public knowledge). */
  val enStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  def stopwordCount(text: Column, words: Seq[String] = enStopwords): Column =
    size(filter(tokens(lower(text)), t => t.isin(words: _*)))

  def stopwordRatio(text: Column): Column =
    round(stopwordCount(text) / tokenCount(text).cast("double"), 6)

  /** Composite quality score in [0,1]: rewards sane length and stopword
    * presence, penalizes punctuation/digit noise. Deterministic, rounded. */
  def qualityScore(text: Column): Column =
    round(
      least(lit(1.0), tokenCount(text) / lit(20.0)) * lit(0.4)
        + least(lit(1.0), stopwordRatio(text) * lit(4.0)) * lit(0.3)
        + greatest(lit(0.0), lit(1.0) - punctRatio(text) * lit(5.0)) * lit(0.2)
        + greatest(lit(0.0), lit(1.0) - digitRatio(text) * lit(5.0)) * lit(0.1),
      6)

  /** n-gram-heuristic language ID: score each candidate language by its
    * function-word hit ratio, pick the argmax (ties → 'und'). Lists are
    * tiny; the whole thing stays one codegen'd projection. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "zai", "ta"))

  def langScores(text: Column): Seq[(String, Column)] =
    langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> round(
        stopwordCount(text, words) / tokenCount(text).cast("double"), 6)
    }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of whitespace-collapsed lowercase text —
    * the exact-dedup key. Same formula is expressible in any engine. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(strip(text)), "\\s+", " "))

  // ---- intra-document repetition (Gopher quality rules) --------------------

  /** Fraction of tokens that repeat an earlier token (Rae et al. 2021
    * Appendix A repetition filters, adapted to whitespace tokens since
    * the corpus is single-line). Pure projection — no shuffle. */
  def dupTokenFrac(text: Column): Column = {
    val t = tokens(lower(text))
    round(lit(1.0) -
      size(array_distinct(t)).cast("double") / size(t), 6)
  }

  /** All word bigrams in order (NOT de-duplicated — repetition analysis
    * needs the multiset; contrast [[TextDedup.shingles]]). */
  def rawBigrams(text: Column): Column = {
    val t = tokens(lower(text))
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", slice(t, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document repetition stats: (idCol, dup_token_frac,
    * top_bigram_frac) where top_bigram_frac is the share of all bigrams
    * taken by the single most frequent one (Gopher's "top n-gram
    * fraction" gate).
    *
    * Scale: the bigram count is keyed by (doc, gram) — two hash
    * aggregates with map-side partials, cardinality bounded by corpus
    * token count; no window, no all-pairs. Documents with fewer than two
    * tokens surface a NULL fraction rather than a fabricated zero. */
  def repetitionStats(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = docs.select(col(idCol),
      dupTokenFrac(col(textCol)).as("dup_token_frac"),
      rawBigrams(col(textCol)).as("bg"))
    val tops = base
      .select(col(idCol), size(col("bg")).as("n_bg"),
        explode(col("bg")).as("g"))
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"), first(col("n_bg")).as("n_bg"))
      .groupBy(col(idCol))
      .agg(round(max(col("c")).cast("double") / first(col("n_bg")), 6)
        .as("top_bigram_frac"))
    base.select(col(idCol), col("dup_token_frac"))
      .join(tops, Seq(idCol), "left")
  }

  // ---- PII redaction -------------------------------------------------------

  /** Redaction patterns in application ORDER — order is load-bearing:
    * URLs first (they contain @, dots, digits), then emails, then IPs,
    * then phones (the loosest pattern, applied only to what survives).
    * RE2-safe syntax (no backrefs/lookahead) so any engine's regex
    * library — Java here, RE2 in the DuckDB oracle — matches the same
    * spans: each pattern's match extent is "maximal run ending at the
    * required terminal class", identical under leftmost-greedy and
    * leftmost-longest semantics. */
  val piiPatterns: Seq[(String, String)] = Seq(
    // \S and \s are spelled as EXPLICIT char classes: Java's \s includes
    // vertical tab (U+000B) while RE2's does not, and these pattern
    // strings are interpolated verbatim into the DuckDB oracle — the
    // explicit class is the one spelling both engines read identically
    "url" -> "https?://[^ \\t\\n\\x0B\\f\\r]+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+?\\d[\\d \\t\\n\\x0B\\f\\r().-]{6,}\\d")

  /** Replace each PII class with its `<TAG>` placeholder (placeholders
    * contain no digits or @, so later stages cannot re-match them). Pure
    * codegen'd regexp_replace chain — one projection, no shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (tag, p)) =>
      regexp_replace(c, p, s"<${tag.toUpperCase}>")
    }

  /** Total redaction count, staged identically to [[redactPii]] (each
    * class counted on the text AFTER earlier classes were replaced). */
  def piiCount(text: Column): Column =
    piiPatterns.foldLeft((text, lit(0))) { case ((c, n), (tag, p)) =>
      (regexp_replace(c, p, s"<${tag.toUpperCase}>"),
        n + size(regexp_extract_all(c, lit(p), lit(0))))
    }._2

  // ---- trained trigram language ID (Cavnar & Trenkle '94 style) -----------

  /** Distinct character trigrams of the whitespace-normalized lowercase
    * text (same normalization as [[fingerprint]]). One regex pass plus a
    * codegen'd HOF — no per-trigram UDF. */
  def charTrigrams(text: Column): Column = {
    val nt = regexp_replace(lower(strip(text)), "\\s+", " ")
    array_distinct(
      when(length(nt) >= 3,
        transform(sequence(lit(1), length(nt) - 2), i => nt.substr(i, lit(3))))
        .otherwise(array().cast("array<string>")))
  }

  /** Train: the `topN` most document-frequent trigrams per labeled
    * language → (lang, tg, rank). The `row_number` window here is NOT the
    * single-reducer anti-pattern: its input is the already-aggregated
    * (language × trigram-vocabulary) count table, whose size is bounded
    * by the character-trigram vocabulary — independent of corpus size —
    * so at 100 TB the window input is still a few thousand rows per
    * language. Ties break on trigram ascending for determinism. */
  def trainTrigramProfiles(docs: DataFrame, textCol: String,
      langCol: String, topN: Int = 50): DataFrame =
    docs.select(col(langCol).as("lang"),
        explode(charTrigrams(col(textCol))).as("tg"))
      .groupBy(col("lang"), col("tg")).agg(count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("df").desc, col("tg").asc)))
      .filter(col("rank") <= topN)
      .select("lang", "tg", "rank")

  /** Apply: score = |distinct doc trigrams ∩ language profile|, argmax
    * with (score desc, lang asc) tie-break; docs hitting no profile at
    * all predict 'und' with score 0. The profile table is broadcast (topN
    * × languages rows); the per-doc argmax window partitions on the
    * high-cardinality doc id, so it parallelizes with the corpus. */
  def langIdTrigram(docs: DataFrame, textCol: String, idCol: String,
      profiles: DataFrame): DataFrame = {
    val tg = docs.select(col(idCol).as("id"),
      explode(charTrigrams(col(textCol))).as("tg"))
    val scores = tg
      .join(broadcast(profiles.select(col("lang"), col("tg"))), Seq("tg"))
      .groupBy(col("id"), col("lang")).agg(count(lit(1)).as("score"))
    val best = scores.withColumn("__rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("score").desc, col("lang").asc)))
      .filter(col("__rn") === 1).drop("__rn")
    docs.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("lang"), lit("und")).as("lang_pred"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Unigram language-model scoring (the CCNet-style perplexity quality
    * signal with a unigram stand-in for KenLM): train token log-probs on
    * the corpus itself — one (token → count) hash aggregate plus a 1-row
    * total broadcast — then score each document by its mean token
    * log-prob. Low scores flag boilerplate-free but improbable text
    * (OCR noise, wrong-language fragments, codes) the rule-based quality gates
    * miss.
    *
    * Scale: the vocabulary aggregate shuffles one row per DISTINCT term
    * (not per occurrence, map-side partials); scoring is a hash join on
    * the term key and one (doc) aggregate. Nothing global except the
    * 1-row total.
    *
    * Determinism: log-probs are 6-dp-rounded before the per-doc mean (so
    * libm ln ulp divergence cannot survive — the BM25 idf rule), and the
    * mean is an exact decimal sum over those rounded values divided by
    * the token count. */
  def lmScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val idToks = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("tok")))
    val counts = idToks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n"))
    val logProbs = counts.crossJoin(broadcast(total))
      .select(col("tok"), round(log(col("c") / col("n")), 6).as("logp"))
    idToks.join(logProbs, Seq("tok"))
      .groupBy(col("id"))
      .agg(
        (sum(col("logp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1))).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
      .select(col("id").as(idCol), col("avg_logprob"), col("n_tokens"))
  }

  /** Bigram LM quality score with add-one smoothing — the next step up
    * from [[lmScore]]'s unigram model (CCNet/KenLM shape): score(doc) =
    * mean log P(w2|w1) over the doc's bigram multiset, with
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V). Word order now matters:
    * shuffled-word salami that fools a unigram model scores low.
    *
    * Scale: bigram counts shuffle one row per DISTINCT bigram (map-side
    * partials); context counts aggregate the bigram VOCABULARY, not the
    * corpus; scoring is one hash join on the bigram key. Global state is
    * a single broadcast row (V). Docs with < 2 tokens have no bigrams
    * and are absent from the output (a bigram model has no opinion).
    *
    * Determinism: (c+1)/(ctx+V) divides exact integers (bit-identical
    * across engines); ln is 6-dp-rounded before the exact-decimal mean
    * (the BM25-idf/lmScore rule). */
  def bigramLmScore(docs: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    val idBi = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"),
        explode(rawBigrams(col(textCol))).as("bg")))
    val biCounts = graft.ops.CacheScope.persist(
      idBi.groupBy(col("bg")).agg(count(lit(1)).as("cb")))
    val ctxCounts = biCounts
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("cb")).as("cw"))
    val vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val logProbs = biCounts
      .join(ctxCounts, split(col("bg"), " ").getItem(0) === col("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        round(log((col("cb") + 1).cast("double")
          / (col("cw") + col("v")).cast("double")), 6).as("logp"))
    idBi.join(logProbs, Seq("bg"))
      .groupBy(col("id"))
      .agg(
        (sum(col("logp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1))).as("avg_bigram_logprob"),
        count(lit(1)).as("n_bigrams"))
      .select(col("id").as(idCol), col("avg_bigram_logprob"),
        col("n_bigrams"))
  }

  /** Kneser–Ney smoothed bigram perplexity — the standard n-gram LM
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1998's interpolated
    * form), one realism step past [[bigramLmScore]]'s add-one:
    *   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·)
    *            + (D·N₁₊(w1 ·)/c(w1·)) · N₁₊(· w2)/N₁₊(· ·)
    * The continuation probability N₁₊(· w2)/T ("in how many distinct
    * contexts does w2 appear") is what distinguishes KN: a word frequent
    * only inside one collocation gets a LOW continuation weight even if
    * its raw unigram count is high.
    *
    * Scale: everything derives from the bigram-TYPE frame — c(w1·) and
    * N₁₊(w1 ·) come from ONE w1-keyed aggregate over it, N₁₊(· w2) from
    * one w2-keyed aggregate, T is a 1-row broadcast; scoring is one hash
    * join on the bigram key back to the per-doc bigram multiset. No
    * window, no pass at corpus-token grain beyond the initial count.
    *
    * Determinism: P is exact-integer ratios and the double discount in
    * one pinned IEEE tree; ln rounds 6 dp per bigram, per-doc mean is
    * the exact-decimal sum / count; perplexity = exp(−mean) rounds 6 dp
    * (the Kaplan–Meier exp rule). P > 0 always — every observed bigram
    * has N₁₊(w1 ·) ≥ 1 and N₁₊(· w2) ≥ 1, so ln never sees 0. Docs with
    * < 2 tokens have no bigrams and are absent (the bigramLmScore
    * contract). */
  def knBigramScore(docs: DataFrame, textCol: String, idCol: String,
      discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val idBi = graft.ops.CacheScope.persist(
      docs.select(col(idCol).as("id"),
        explode(rawBigrams(col(textCol))).as("bg")))
    val biCounts = graft.ops.CacheScope.persist(
      idBi.groupBy(col("bg")).agg(count(lit(1)).as("cb")))
    val w1Stats = biCounts
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("cb")).as("cw"), count(lit(1)).as("nfw"))
    val contStats = biCounts
      .groupBy(split(col("bg"), " ").getItem(1).as("w2"))
      .agg(count(lit(1)).as("npre"))
    val totTypes = biCounts.agg(count(lit(1)).as("t"))
    val d = lit(discount)
    val p = greatest(col("cb") - d, lit(0.0)) / col("cw") +
      (d * col("nfw") / col("cw")) * (col("npre") / col("t"))
    val logProbs = biCounts
      .join(w1Stats, split(col("bg"), " ").getItem(0) === col("w1"))
      .join(contStats, split(col("bg"), " ").getItem(1) === col("w2"))
      .crossJoin(broadcast(totTypes))
      .select(col("bg"), round(log(p), 6).as("logp"))
    idBi.join(logProbs, Seq("bg"))
      .groupBy(col("id"))
      .agg(
        (sum(col("logp").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("avg_kn_logprob"),
        count(lit(1)).as("n_bigrams"))
      .select(col("id").as(idCol), col("avg_kn_logprob"),
        round(exp(-col("avg_kn_logprob")), 6).as("kn_ppl"),
        col("n_bigrams"))
  }

  /** PMI COLLOCATIONS — the classic multiword-expression miner (Church
    * & Hanks 1990): corpus bigrams scored by pointwise mutual
    * information against their unigram frequencies,
    * pmi = ln( p(ab) / (p(a)·p(b)) ) with p(ab) = c(ab)/N_bigrams and
    * p(w) = c(w)/N_tokens, support-filtered (low-count pairs produce
    * unstable PMI — the standard guard), top-k by (pmi desc, bigram
    * asc). What tokenizer prep uses to protect "new york"-class units,
    * and corpus QA uses to spot boilerplate phrases.
    *
    * Scale: token and bigram hash aggs (map-side partials), two
    * unigram equi-joins onto the SUPPORT-FILTERED bigram frame (never
    * the raw corpus), 1-row total broadcasts, and the bounded-heap
    * [[graft.functions.TopKAgg]] for ranking — no window over the
    * vocabulary. Determinism: PMI's operands promote to double BEFORE
    * any multiply (the mutualInformation overflow rule — c(ab)·N² can
    * pass 2^63 at corpus scale) with the identical left-associated
    * tree in the oracle; 6-dp round; heap ties break on bigram asc
    * like the replay window. */
  def pmiCollocations(docs: DataFrame, textCol: String,
      k: Int = 25, minSupport: Long = 5): DataFrame = {
    val toks = graft.ops.CacheScope.persist(
      docs.select(explode(tokens(lower(col(textCol)))).as("w")))
    val uni = graft.ops.CacheScope.persist(
      toks.groupBy(col("w")).agg(count(lit(1)).as("cu")))
    val nTok = toks.agg(count(lit(1)).as("n_tok"))
    val bi = graft.ops.CacheScope.persist(
      docs.select(explode(rawBigrams(col(textCol))).as("bg")))
    val nBi = bi.agg(count(lit(1)).as("n_bi"))
    val scored = graft.ops.CacheScope.persist(bi
      .groupBy(col("bg")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minSupport)
      .join(uni.select(col("w").as("w1x"), col("cu").as("ca")),
        split(col("bg"), " ").getItem(0) === col("w1x"))
      .join(uni.select(col("w").as("w2x"), col("cu").as("cb")),
        split(col("bg"), " ").getItem(1) === col("w2x"))
      .crossJoin(broadcast(nBi))
      .crossJoin(broadcast(nTok))
      .select(col("bg"), col("cab"),
        round(log(
          col("cab").cast("double") * col("n_tok").cast("double")
            * col("n_tok").cast("double")
            / (col("n_bi").cast("double") * col("ca").cast("double")
              * col("cb").cast("double"))), 6).as("pmi")))
    scored
      .agg(graft.functions.TopKAgg.top_k_str(
        col("pmi"), col("bg"), k).as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.rank").as("rank"), col("t.key").as("bigram"),
        col("t.score").as("pmi"))
      .join(scored.select(col("bg").as("bigram"),
        col("cab").as("support")), Seq("bigram"))
      .select(col("rank"), col("bigram"), col("support"), col("pmi"))
  }

  // ---- Gopher quality gates (Rae et al. 2021, Appendix A) ------------------

  /** Gopher's required-stopword list ("contains at least two of ...");
    * distinct-word membership, not occurrence count. */
  val gopherStopwords: Seq[String] = Seq(
    "the", "be", "to", "of", "and", "that", "have", "with")

  /** Symbol-to-word ratio numerator: `#` and ellipsis occurrences. The
    * alternation is match-identical under leftmost-greedy (Java) and
    * leftmost-longest (RE2) because the branches cannot overlap. */
  val symbolPattern = "#|\\.\\.\\."

  def symbolWordRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit(symbolPattern), lit(0)))
      / tokenCount(text).cast("double"), 6)

  /** Fraction of words containing at least one alphabetic character. */
  def alphaWordRatio(text: Column): Column =
    round(size(filter(tokens(text), t => t.rlike("[A-Za-z]")))
      / tokenCount(text).cast("double"), 6)

  /** Count of DISTINCT Gopher stopwords present. */
  def gopherStopwordHits(text: Column): Column =
    size(array_intersect(array_distinct(tokens(lower(text))),
      array(gopherStopwords.map(lit): _*)))

  /** Column form of the full Gopher conjunction for inline pipeline
    * gating (same rounded signals as [[gopherGates]], no intermediate
    * frame). */
  def gopherKeep(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2): Column =
    tokenCount(text).between(minWords, maxWords) &&
      meanWordLen(text).between(minMeanWordLen, maxMeanWordLen) &&
      symbolWordRatio(text) <= maxSymbolWordRatio &&
      alphaWordRatio(text) >= minAlphaWordRatio &&
      gopherStopwordHits(text) >= minStopwordHits

  /** The Gopher rule-based document gates: word count bounds, mean word
    * length bounds, symbol-to-word ratio cap, alphabetic-word floor, and
    * the ≥2-distinct-stopwords requirement. Emits every signal, each
    * gate's verdict (INT 0/1 — booleans hash differently across
    * engines), and the conjunction `keep`.
    *
    * Every gate compares against its 6-dp-ROUNDED signal, so borderline
    * documents resolve identically on any engine re-deriving the flags
    * from the emitted signals.
    *
    * Pure projection — no shuffle, no state; at 100 TB this is one
    * codegen'd pass reading only (id, text). */
  def gopherGates(docs: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val gWords = col("n_words").between(minWords, maxWords)
    val gMwl = col("mean_word_len").between(minMeanWordLen, maxMeanWordLen)
    val gSym = col("symbol_word_ratio") <= maxSymbolWordRatio
    val gAlpha = col("alpha_word_ratio") >= minAlphaWordRatio
    val gStop = col("stop_hits") >= minStopwordHits
    docs.select(
      col(idCol),
      tokenCount(t).as("n_words"),
      meanWordLen(t).as("mean_word_len"),
      symbolWordRatio(t).as("symbol_word_ratio"),
      alphaWordRatio(t).as("alpha_word_ratio"),
      gopherStopwordHits(t).as("stop_hits"))
    .select(col("*"),
      gWords.cast("int").as("gate_words"),
      gMwl.cast("int").as("gate_mwl"),
      gSym.cast("int").as("gate_symbol"),
      gAlpha.cast("int").as("gate_alpha"),
      gStop.cast("int").as("gate_stop"),
      (gWords && gMwl && gSym && gAlpha && gStop).cast("int").as("keep"))
  }

  /** Character-entropy quality signal (Shannon entropy of the per-doc
    * character histogram, in nats): near-zero entropy flags degenerate
    * text (repeated fills, single-char spam) that token-level gates can
    * rate as fine; unusually high entropy flags binary-ish noise.
    * Uses the identity H = ln(n) − (Σ_c c·ln c)/n over character counts.
    *
    * Scale: one explode to (doc, char) — bounded by corpus characters —
    * then two hash aggregates keyed on (doc, char) and (doc); no
    * windows, no global state at all.
    *
    * Determinism (DuckDB-oracle parity): ln(c) is 6-dp-rounded per
    * DISTINCT count before the weighted term (the BM25-idf/lmScore
    * rule), each term is cast to exact DECIMAL(18,6) before summing, and
    * the final entropy rounds to 6 dp. */
  def charEntropy(docs: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    val hist = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), "")).as("ch"))
      .groupBy(col("id"), col("ch")).agg(count(lit(1)).as("c"))
    hist.groupBy(col("id"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * round(log(col("c")), 6))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("s"))
      .select(col("id").as(idCol),
        round(log(col("n")) - col("s").cast("double") / col("n"), 6)
          .as("char_entropy"),
        col("n").as("n_chars"))
  }

  /** Token-length histogram with cumulative token coverage — the
    * planning table for sequence-length/truncation decisions ("what
    * max_seq_len covers 99% of tokens?"). Buckets are fixed-width
    * `[lo, lo+width)` with `lo = n_tok − n_tok % width` — pure integer
    * arithmetic, so both engines bucket identically (no floating log2
    * boundary risk).
    *
    * Scale: one projection + one hash aggregate keyed on the bucket.
    * The cumulative window runs over the BUCKET LIST (bounded by
    * max_len/width, not corpus size) — a single-task window over ~tens
    * of rows, after the data has already collapsed. */
  def lengthHistogram(docs: DataFrame, textCol: String,
      width: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = tokenCount(col(textCol))
    val agg = docs
      .select((n - pmod(n, lit(width))).cast("long").as("bucket_lo"),
        n.cast("long").as("n_tok"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val w = Window.orderBy(col("bucket_lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg.select(col("bucket_lo"), col("n_docs"), col("n_tokens"),
      round(sum(col("n_tokens")).over(w).cast("double")
        / sum(col("n_tokens")).over(tot), 6).as("cum_token_frac"))
  }

  // ---- hashed-n-gram linear classifier (fastText-style) -------------------

  /** The classifier's weight vector as a (bucket, weight) table. Real
    * deployments ship trained weights (fastText / logistic regression
    * over hashed bag-of-n-grams); here the stand-in weights are
    * md5-derived in [-1, 1] with 3 exact decimals — deterministic,
    * public, and reproducible on the oracle side. The table is
    * `buckets` rows regardless of corpus size, so it always broadcasts. */
  def hashedClassifierWeights(spark: org.apache.spark.sql.SparkSession,
      buckets: Int, salt: String): DataFrame =
    spark.range(buckets.toLong).select(col("id").as("bucket"),
      ((conv(substring(md5(concat(lit(s"$salt:w:"),
        col("id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 2001 - 1000) / 1000.0).as("weight"))

  /** Quality classification via the hashing trick: features are word
    * unigrams + bigrams (a bag WITH multiplicity), hashed into
    * `buckets`; score = sigmoid(mean feature weight); `keep` = margin
    * ≥ 0. This is the standard shape of a fastText-style corpus
    * quality filter — swap [[hashedClassifierWeights]] for a trained
    * vector and nothing else changes.
    *
    * Scale: explode → ONE broadcast join (the weight table is fixed
    * size) → one hash aggregate keyed on the doc id with map-side
    * partials. No window, no driver-side model state; cost is linear
    * in corpus token count.
    *
    * Determinism: weights are k/1000 doubles (identical IEEE values in
    * both engines), summed through exact DECIMAL(38,6); the margin is
    * rounded to 6 dp BEFORE the transcendental sigmoid and the score
    * rounded after (the lmScore rules). */
  def hashedLinearScore(docs: DataFrame, textCol: String, idCol: String,
      buckets: Int = 4096, salt: String = "qclf"): DataFrame = {
    val weights = hashedClassifierWeights(docs.sparkSession, buckets, salt)
    val grams = docs.select(col(idCol),
      explode(concat(tokens(lower(col(textCol))),
        rawBigrams(col(textCol)))).as("gram"))
    val hashed = grams.select(col(idCol),
      (conv(substring(md5(concat(lit(s"$salt:g:"), col("gram"))), 1, 8),
        16, 10).cast("long") % buckets).as("bucket"))
    val margin = round(
      sum(col("weight").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double") / count(lit(1)), 6)
    hashed.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"), margin.as("margin"))
      .select(col(idCol), col("n_features"), col("margin"),
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6).as("score"),
        (col("margin") >= 0).cast("int").as("keep"))
  }

  /** Per-source n-gram diversity (type-token ratios over unigrams and
    * bigrams): the corpus-health number that catches template farms and
    * boilerplate floods — a source can pass every per-doc quality gate
    * and still be 5 pages repeated 100k times; its TTR collapses while
    * a healthy crawl's stays flat.
    *
    * Two token-grained aggregates (unigram explode, index-explode
    * bigrams) joined on the source key — the same shuffle shape as the
    * vocabulary ops: one row per token, map-side partial
    * count-distinct, output cardinality = |sources|. Tokens are
    * lowercased whitespace splits (the [[tokens]] definition). */
  def ngramDiversity(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val t = tokens(lower(col(textCol)))
    val base = docs.select(col(sourceCol), t.as("t"))
    val uni = base.select(col(sourceCol), explode(col("t")).as("tok"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_unigrams"))
    // bigram at 1-based index i joins token i with token i+1; docs with
    // a single token contribute none (sequence(1, 0) would DESCEND in
    // Spark, hence the explicit size guard)
    val bi = base.filter(size(col("t")) >= 2)
      .select(col(sourceCol),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col(sourceCol),
        concat(element_at(col("t"), col("i")), lit(" "),
          element_at(col("t"), col("i") + 1)).as("bg"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_bigrams_total"),
        countDistinct(col("bg")).as("n_bigrams"))
    uni.join(bi, Seq(sourceCol), "left")
      .select(col(sourceCol), col("n_tokens"), col("n_unigrams"),
        coalesce(col("n_bigrams_total"), lit(0L)).as("n_bigrams_total"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("n_unigrams").cast("double") / col("n_tokens"), 6)
          .as("ttr_unigram"),
        when(coalesce(col("n_bigrams_total"), lit(0L)) > 0,
          round(col("n_bigrams").cast("double") / col("n_bigrams_total"), 6))
          .otherwise(lit(null).cast("double")).as("ttr_bigram"))
  }

  /** Content-type detection — separating code and math from prose, a
    * standard corpus-curation routing stage (code goes to a code
    * pipeline, math to a math-aware tokenizer, prose to the text
    * filters). Pure character/line evidence: code = brace/bracket/
    * semicolon density plus indented-line fraction; math = operator
    * density. Thresholds are explicit constants; ratios are emitted
    * alongside the label so downstream can re-threshold without a
    * rescan.
    *
    * Scale: ONE codegen'd projection pass — three regexp counts and a
    * line-prefix filter per row, no shuffle at all. Determinism: counts
    * are integral, ratios round at 6 dp, the label CASEs on the rounded
    * ratios (RE2-compatible character classes evaluate identically in
    * both engines). */
  def contentType(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val nChars = greatest(length(col(textCol)).cast("double"), lit(1.0))
    val brace = size(regexp_extract_all(col(textCol),
      lit("[{}()\\[\\];=]"), lit(0))).cast("double")
    val mathy = size(regexp_extract_all(col(textCol),
      lit("[=+*/^<>|~-]"), lit(0))).cast("double")
    val lines = split(col(textCol), "\n")
    val indented = size(filter(lines, l => l.rlike("^( |\t)")))
      .cast("double")
    docs.select(col(idCol),
      round(brace / nChars, 6).as("brace_ratio"),
      round(indented / greatest(size(lines), lit(1)).cast("double"), 6)
        .as("indent_frac"),
      round(mathy / nChars, 6).as("math_ratio"))
      .withColumn("content_label",
        when(col("brace_ratio") > 0.02 && col("indent_frac") > 0.1, "code")
          .when(col("math_ratio") > 0.05, "math")
          .otherwise("prose"))
  }

  /** Tokenizer fertility per language: corpus-level subword-tokens-per-
    * word and chars-per-subword-token — the standard tokenizer-equity
    * diagnostic (a language whose fertility is 2× English pays 2× the
    * sequence length for the same content; chars/token near 1 flags
    * byte-fallback-ish degradation). Uses the whitespace word count and
    * the BPE-ish subword count ([[bpeishTokenCount]]); a production run
    * swaps the real tokenizer's counts into the same per-doc columns.
    *
    * Scale: one codegen projection pass + a hash agg keyed on the
    * bounded language code — exact long sums, ratios at the output edge
    * only (guarded against empty-language degeneracy on both engines).
    */
  def tokenizerFertility(docs: DataFrame, textCol: String,
      langCol: String): DataFrame =
    docs.select(col(langCol).as("lang"),
        tokenCount(col(textCol)).as("n_words"),
        bpeishTokenCount(col(textCol)).as("n_bpe"),
        length(col(textCol)).as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("t_words"),
        sum(col("n_bpe")).as("t_bpe"),
        sum(col("n_chars")).as("t_chars"))
      .select(col("lang"), col("n_docs"), col("t_words"), col("t_bpe"),
        when(col("t_words") > 0,
          round(col("t_bpe").cast("double") / col("t_words"), 6))
          .as("fertility"),
        when(col("t_bpe") > 0,
          round(col("t_chars").cast("double") / col("t_bpe"), 6))
          .as("chars_per_token"))
}
