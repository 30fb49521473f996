package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Markup, TextDedup, TextStats}
import graft.ops.CacheScope
import graft.sinks.Sinks

/** Corpus driver — the LLM-training-data counterpart to [[BatchMain]]:
  * one runnable entry that takes a documents table and produces a clean,
  * layout-optimized corpus plus a load report. Stages (each an operator
  * this library ships, composed in the order a production ingest runs):
  *
  *   0. provenance gate: drop docs linking blocklisted domains (checked
  *      on the RAW text so attribute-quoted hrefs are still visible),
  *      then strip HTML/markup (script/style blocks, tags, entities);
  *   1. boilerplate-line removal (lines recurring across ≥ minDocs
  *      docs stripped corpus-wide), plus opt-in duplicate-span excision
  *      (`excideDupSpans` — cross-document repeated n-gram passages cut
  *      from the text itself);
  *   2. annotate: token counts, quality score, repetition, fingerprints;
  *   3. PII redaction (staged URL→email→IP→phone);
  *   4. gate: minimum tokens + quality floor + repetition ceiling
  *      (+ the Gopher rule gates when `gopher = true` — off by default:
  *      the required-stopword rule assumes natural-language prose);
  *   5. exact dedup keep-first by fingerprint;
  *   6. MinHash-LSH near-dup mining → connected components → keep each
  *      component's representative;
  *   7. deterministic train/val/test assignment (id-hash 90/5/5);
  *   8. land as hive-partitioned (lang), doc_id-clustered parquet.
  *
  * Prints one JSON summary line (counts per stage) for orchestration.
  *
  * Usage: runMain graft.app.CorpusMain <docsParquetDir> <outDir>
  *          [minTokens] [minQuality]
  */
object CorpusMain {
  def main(args: Array[String]): Unit = {
    val docsDir = args(0)
    val outDir = args(1)
    val minTokens = if (args.length > 2) args(2).toInt else 10
    val minQuality = if (args.length > 3) args(3).toDouble else 0.2
    val spark = graft.Session()
    val summary = run(spark, spark.read.parquet(docsDir), outDir,
      minTokens, minQuality)
    println(summary)
    spark.stop()
  }

  /** Returns the JSON summary line; writes the clean corpus under
    * `outDir/corpus`. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      minTokens: Int = 10, minQuality: Double = 0.2,
      boilerplateMinDocs: Int = 25, maxDupTokenFrac: Double = 0.9,
      stripMarkup: Boolean = true, domainBlocklist: Seq[String] = Nil,
      gopher: Boolean = false, excideDupSpans: Boolean = false): String = {
    val provenanced =
      if (domainBlocklist.isEmpty) docs
      else docs.filter(Markup.domainKeep(col("text"), domainBlocklist))
    val demarked =
      if (!stripMarkup) provenanced
      else provenanced.withColumn("text", Markup.stripHtml(col("text")))
        // NFC canonical composition right after markup strip (entity
        // decode can emit combining sequences): decomposed and
        // precomposed spellings must fingerprint identically or every
        // downstream dedup stage silently misses duplicates. Codegen'd
        // expression, no-op (no copy) on already-NFC text.
        .withColumn("text", graft.functions.NfcNormalize.nfc(col("text")))
    // the raw corpus is read by the line explode, the n_lines re-select,
    // and the lang join — persist once instead of three full scans of
    // the largest table in the pipeline
    val src = CacheScope.persist(demarked.select("doc_id", "lang", "text"))
    val deBoiler0 = TextDedup.removeBoilerplateLines(
        src, "text", "doc_id", boilerplateMinDocs)
      .join(src.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("cleaned").as("text"))
    // opt-in (text-rewriting) duplicate-span excision after line-level
    // boilerplate: cross-document repeated n-gram passages are cut
    // before stats/fingerprints are computed, so the fp reflects the
    // text that actually ships
    val deBoiler =
      if (!excideDupSpans) deBoiler0
      else TextDedup.removeDupSpans(deBoiler0, "text", "doc_id")
        .join(src.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "text")
    // redact FIRST, then annotate the redacted text: the landed `text`
    // is redacted, so stats computed on the raw text would ship as stale
    // metadata (a PII-heavy doc would over-count n_tokens and gate on
    // text that is then rewritten). Only `fp` deliberately stays
    // pre-redaction (see the dedup comment below).
    val annotated = CacheScope.persist(deBoiler
      .select(col("doc_id"), col("lang"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.redactPii(col("text")).as("text"))
      .select(col("doc_id"), col("lang"), col("fp"), col("text"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.dupTokenFrac(col("text")).as("dup_frac")))
    val total = annotated.count()

    val baseGate =
      col("n_tokens") >= minTokens && col("quality") >= minQuality &&
        col("dup_frac") <= maxDupTokenFrac
    val gated = annotated.filter(
      if (gopher) baseGate && TextStats.gopherKeep(col("text"))
      else baseGate)
    val nGated = gated.count()

    // exact dedup keep-first on the PRE-redaction fingerprint (two docs
    // differing only in redacted PII are still near-dups, not exact)
    val firsts = gated.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exactKept = CacheScope.persist(
      gated.join(firsts, Seq("doc_id"), "left_semi"))
    val nExact = exactKept.count()

    val pairs = TextDedup.minhashNearDups(exactKept, "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.5)
    val labels = TextDedup.connectedComponents(exactKept, "doc_id", pairs)
    val clean = TextDedup.hashSplit(
      exactKept.join(labels, Seq("doc_id"))
        .filter(col("rep_id") === col("doc_id"))
        .select("doc_id", "lang", "text", "n_tokens", "quality"),
      "doc_id")

    Sinks.writeClusteredParquet(clean, s"$outDir/corpus",
      partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    val nClean = spark.read.parquet(s"$outDir/corpus").count()
    CacheScope.releaseAll()

    s"""{"total":$total,"gated":$nGated,"exact_deduped":$nExact,""" +
      s""""clean":$nClean,"out":"$outDir/corpus"}"""
  }
}
