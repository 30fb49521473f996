package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer induction (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece unigram trainer), completing the
  * tokenizer-induction family next to [[Vocab.bpeTrain]] (r12 VERDICT
  * #6): seed a candidate vocabulary from corpus substrings, hard-EM
  * re-estimate piece probabilities by Viterbi-segmenting the word
  * vocabulary, prune to the target size, and segment with the final
  * model.
  *
  * Deterministic, DuckDB-replayable FIXTURE regime: training runs over
  * the top-`topWords` corpus words of length ≤ `maxWordLen` with
  * pieces ≤ `maxPieceLen` chars, 2 hard-EM iterations, and total-order
  * tie-breaks everywhere — (cost asc, piece-length desc) inside the
  * Viterbi DP, (count desc, piece asc) at every vocabulary cut — so
  * the oracle can replay the whole trainer as unrolled SQL (the
  * `ext_bpe_merges` precedent: the DP unrolls over ≤ `maxWordLen`
  * position CTEs exactly as the merge loop unrolls over iterations).
  * Simplifications vs full SentencePiece, both documented and shared
  * verbatim by the oracle: hard EM (Viterbi counts, not lattice
  * marginals) and count-based pruning with +1 smoothing (drop the
  * least-used multi-char pieces) instead of leave-one-out loss — the
  * same greedy direction, closed-form instead of a second-best lattice
  * pass.
  *
  * Scale shape: the corpus reduces to its word vocabulary ONCE
  * ([[Vocab.wordCounts]] — the shuffle carries distinct words, never
  * occurrences); every EM pass is a pure per-word projection (the
  * Viterbi DP is an `aggregate` fold over ≤ maxWordLen positions with
  * a ≤ vocab-sized broadcast literal map — zero UDF, zero shuffle) and
  * one vocabulary-sized hash aggregate whose result (≤ seed size rows)
  * is the bounded per-iteration reduction the BPE merge loop also
  * does. Corpus size enters exactly once; fertility/coverage consumers
  * re-run the same projection over the (vocabulary-sized) eligible
  * word set. */
object UnigramLm {

  val MaxWordLen = 12
  val MaxPieceLen = 4
  private val UnkCost = 1e9

  /** Final model: `vocab` rows (piece, is_char, n_seg, cost) where
    * n_seg is the piece's weighted usage count in the final
    * segmentation pass and cost = round(−ln p, 6) its model parameter;
    * `costs` the final piece → cost map the segmenters consume;
    * `chars` the single-character pieces (the coverage alphabet). */
  final case class Model(
      vocab: Seq[(String, Int, Long, Double)],
      costs: Map[String, Double],
      chars: Seq[String])

  /** The deterministic training fixture: top-`topWords` corpus words
    * (count desc, word asc) among words of length 1..`maxWordLen`. */
  def fixtureWords(docs: DataFrame, textCol: String, topWords: Int,
      maxWordLen: Int = MaxWordLen): DataFrame =
    Vocab.wordCounts(docs, textCol)
      .filter(length(col("tok")).between(1, maxWordLen))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(topWords)

  /** All substrings of `tok` with length 1..maxPieceLen (the unigram
    * seed candidate generator). */
  private def substrPieces(tok: Column, maxPieceLen: Int): Column =
    flatten(transform(sequence(lit(1), length(tok), lit(1)), st =>
      transform(
        sequence(lit(1), least(lit(maxPieceLen), length(tok) - st + 1),
          lit(1)),
        l => tok.substr(st, l))))

  /** Viterbi forward DP over one word: returns the (len+1)-element
    * array of struct(cost, l) where element j+1 is the best prefix
    * cost through position j and `l` the length of the piece ending
    * there. Ties break toward the LONGER piece (cand <= best while l
    * ascends — the oracle's `ORDER BY cost ASC, l DESC` twin). Unknown
    * pieces cost a flat 1e9, so any word still segments losslessly;
    * because one escape is cheaper than an escape plus anything,
    * unknown spans collapse into MAXIMAL (≤ maxPieceLen) UNK pieces —
    * pinned in UnigramSpec, replayed identically by the oracle, and
    * kept out of the measured domain by [[eligibleWords]]. */
  private def viterbiDp(tok: Column, costs: Column,
      maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(tok), lit(1)),
      array(struct(lit(0.0).as("cost"), lit(0).as("l"))),
      (dp, j) => {
        val seed = struct(lit(Double.MaxValue).as("cost"), lit(0).as("l"))
        val best = (1 to maxPieceLen).foldLeft(seed) { (b, l) =>
          // index guarded with greatest(): the branch is dead when
          // j < l but ANSI element_at would still reject index <= 0
          val at = greatest(j - l + 1, lit(1)).cast("int")
          val cand = element_at(dp, at).getField("cost") +
            coalesce(element_at(costs, tok.substr(at, lit(l))),
              lit(UnkCost))
          when(j >= l && cand <= b.getField("cost"),
            struct(cand.as("cost"), lit(l).as("l"))).otherwise(b)
        }
        concat(dp, array(best))
      })

  /** Walk the DP back from the end of the word, prepending pieces —
    * at most len(tok) steps, so one more bounded fold. */
  private def backtrace(tok: Column, dp: Column): Column =
    aggregate(
      sequence(lit(1), length(tok), lit(1)),
      struct(length(tok).as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val l = element_at(dp, greatest(pos + 1, lit(1)).cast("int"))
          .getField("l")
        when(pos > 0,
          struct((pos - l).as("pos"),
            concat(
              array(tok.substr(greatest(pos - l + 1, lit(1)).cast("int"),
                l.cast("int"))),
              st.getField("ps")).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))

  /** Viterbi segmentation of one word under a piece → cost map: the
    * array of pieces, left to right. Pure projection — the cost map is
    * a broadcast literal (vocab-bounded), the DP and backtrace are
    * bounded folds; no UDF, no shuffle, no driver. */
  def viterbiPieces(tok: Column, costs: Map[String, Double],
      maxPieceLen: Int = MaxPieceLen): Column = {
    require(costs.nonEmpty, "viterbiPieces: empty piece-cost map")
    val cm = typedLit(costs)
    backtrace(tok, viterbiDp(tok, cm, maxPieceLen))
  }

  /** piece → round(−ln(ne / Σne), 6) computed IN-ENGINE (both engines
    * take their own libm ln at the same 6-dp round — the established
    * cross-engine rule; a driver-side Math.log could differ by an
    * ulp). `df` must be (piece string, ne long); vocab-bounded. */
  private def collectCosts(df: DataFrame): Map[String, Double] = {
    val total = df.agg(sum(col("ne"))).collect()(0).getLong(0)
    df.select(col("piece"),
        round(-log(col("ne").cast("double") / lit(total.toDouble)), 6)
          .as("cost"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** One hard-EM reduction: segment the (bounded) fixture words under
    * `costs` and return each piece's weighted usage count — a
    * vocab-bounded frame. */
  private def segCounts(words: DataFrame, costs: Map[String, Double],
      maxPieceLen: Int): DataFrame =
    words.select(col("c"),
        explode(viterbiPieces(col("tok"), costs, maxPieceLen)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("c")).as("n"))

  /** Train the unigram LM on the deterministic fixture. Every
    * vocabulary cut and cost estimate runs in-engine so the DuckDB
    * oracle replays it bit-for-bit; only vocab-sized frames (≤ chars +
    * seedMulti rows) ever reach the driver — the BPE-loop bounded-
    * reduction discipline. */
  def train(docs: DataFrame, textCol: String, topWords: Int = 50,
      maxWordLen: Int = MaxWordLen, maxPieceLen: Int = MaxPieceLen,
      seedMulti: Int = 40, keepMulti: Int = 25): Model = {
    val spark = docs.sparkSession
    import spark.implicits._
    // 50-row fixture reused by three segmentation passes — pin it
    val words = fixtureWords(docs, textCol, topWords, maxWordLen)
      .localCheckpoint()

    // seed: substring counts; ALL single chars + top multi by
    // (count·len desc, piece asc)
    val subs = words
      .select(explode(substrPieces(col("tok"), maxPieceLen)).as("piece"),
        col("c"))
      .groupBy(col("piece")).agg(sum(col("c")).as("n0"))
      .localCheckpoint() // reused thrice below; tiny (≤ Σ len² rows)
    val v0 = subs.filter(length(col("piece")) === 1)
      .unionByName(
        subs.filter(length(col("piece")) >= 2)
          .orderBy((col("n0") * length(col("piece"))).desc,
            col("piece").asc)
          .limit(seedMulti))
      .localCheckpoint()
    val cost0 = collectCosts(v0.select(col("piece"), col("n0").as("ne")))
    val v0pieces = v0.select("piece").collect().map(_.getString(0)).toSeq

    // hard-EM iteration 1: counts under cost0 → +1-smoothed re-estimate
    // over the FULL seed vocabulary (unused pieces keep a floor prob)
    val c1 = segCounts(words, cost0, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cost1 = collectCosts(
      v0pieces.map(p => (p, c1.getOrElse(p, 0L) + 1L)).toDF("piece", "ne"))

    // hard-EM iteration 2: raw counts drive the prune
    val c2 = segCounts(words, cost1, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // prune: keep every char + the top keepMulti multi-char pieces by
    // (usage desc, piece asc) — the cut runs IN-ENGINE so string tie
    // order matches the oracle's binary collation
    val multiKept = v0pieces.filter(_.length >= 2)
      .map(p => (p, c2.getOrElse(p, 0L))).toDF("piece", "n2")
      .orderBy(col("n2").desc, col("piece").asc).limit(keepMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val chars = v0pieces.filter(_.length == 1)
    val v2 = chars.map(p => (p, c2.getOrElse(p, 0L))) ++ multiKept
    val cost2 = collectCosts(
      v2.map { case (p, n2) => (p, n2 + 1L) }.toDF("piece", "ne"))

    // final pass under the pruned model: the usage counts the vocab
    // query reports
    val c3 = segCounts(words, cost2, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = v2.map { case (p, _) =>
      (p, if (p.length == 1) 1 else 0, c3.getOrElse(p, 0L), cost2(p))
    }
    // the model is driver-side: nothing reads the pins after this point
    Seq(words, subs, v0).foreach(graft.ops.CacheScope.release)
    Model(vocab, cost2, chars)
  }

  /** Corpus words the pruned model covers: length within the fixture
    * bound and every character in the model alphabet — the honest
    * eligibility domain for fertility (a word outside it would only
    * segment through the UNK escape). */
  def eligibleWords(docs: DataFrame, textCol: String,
      chars: Seq[String], maxWordLen: Int = MaxWordLen): DataFrame =
    Vocab.wordCounts(docs, textCol)
      .filter(length(col("tok")).between(1, maxWordLen) &&
        forall(split(col("tok"), ""),
          ch => array_contains(typedLit(chars), ch)))
}
