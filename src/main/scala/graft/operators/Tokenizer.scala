package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Lineage

/**
 * BPE-STYLE TOKENIZER TRAINING (byte-pair-encoding merge induction,
 * Sennrich et al. 2016) — the tokenizer-training pass every LLM data
 * pipeline runs before token counting, packing, or budget accounting
 * means anything: learn the `rounds` highest-frequency adjacent-symbol
 * merges over the corpus vocabulary. No reference counterpart; mandated
 * by the LLM-pipeline text-analysis family (t3 counts tokens under a
 * FIXED segmentation — this trains the segmentation).
 *
 * Scale shape (the 100-TB story): classic BPE never iterates over the
 * corpus — it iterates over the WORD-FREQUENCY DICTIONARY. The corpus
 * is touched by exactly ONE shuffle (word → count); the dictionary is
 * then capped to the top `vocabCap` words by (count desc, word) via a
 * distributed top-k (TakeOrderedAndProject — never a global sort), and
 * every merge round runs over that vocab-bounded table: one explode of
 * adjacent pairs weighted by word count, one pair-keyed aggregation,
 * one single-row argmax. Per-round driver state is ONE (left, right,
 * count) row — the Lloyd-centroid coordinator discipline.
 *
 * Cross-engine exactness: counts are exact longs; the argmax is fully
 * tie-broken (count desc, left asc, right asc); and the merge APPLY is
 * pure string surgery with no rounding seam. Segmentations live as
 * pipe-delimited strings — word "aba" → "|a||b||a|" (each symbol
 * wrapped in single pipes, so adjacent symbols abut as "||") — and
 * applying merge (l, r) is replace(seg, "|l||r|", "|lr|"). Both Spark's
 * and DuckDB's replace() scan left-to-right non-overlapping, which IS
 * greedy leftmost BPE application: "|a||a||a|" under (a,a) →
 * "|aa||a|" (the consumed middle pipe prevents re-matching), and
 * "|a||b||a||b|" → "|ab||ab|" (the replacement's trailing pipe serves
 * the next match's leading pipe). The word universe is restricted to
 * ^[a-z]+$ BY CONTRACT (enforced by the filter below): no symbol can
 * ever contain the '|' delimiter, and merged symbols (concatenations)
 * inherit the alphabet closure.
 *
 * Output: rounds 1..`rounds` — the learned merge table, one row per
 * round (the trained-tokenizer artifact) — plus round `rounds`+1: the
 * top `topPairs` UNmerged pairs remaining in the final segmentation
 * (ranked count desc, left, right), which hash-gates the final
 * segmentation state broadly, not just the argmax path.
 */
object Tokenizer {

  /** One learned merge. */
  final case class Merge(round: Long, lhs: String, rhs: String, count: Long)

  /**
   * @param docs     corpus with a token-array column (pre-normalized)
   * @param tokCol   the array<string> column of word tokens
   * @param vocabCap train on the top-`vocabCap` alphabetic words by
   *                 (count desc, word) — the serving-budget knob that
   *                 keeps training dictionary-sized at any corpus scale
   *                 (t11's maxEntries discipline)
   * @param rounds   number of merges to learn
   * @param topPairs size of the final-state pair audit (round rounds+1)
   */
  /** count-weighted adjacent-symbol pairs of a (word, cnt, seg) table. */
  private def pairTable(df: DataFrame): DataFrame = {
    val arr = split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|")
    df.select(col("cnt"),
        explode(zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum("cnt").as("pair_count"))
  }

  /** The ONE corpus-sized pass: (word, cnt) for alphabetic words only
    * (the '|' delimiter-safety contract). Exposed separately because the
    * counts are the MERGEABLE training state — a streaming dictionary
    * fold (s21) sums them per trigger and trains from the folded table,
    * landing on the batch-identical merges (training is a pure function
    * of the dictionary). */
  def wordCounts(docs: DataFrame, tokCol: String): DataFrame = docs
    .select(explode(col(tokCol)).as("word"))
    // \A..\z, not ^..$: Java's '$' also matches before a trailing line
    // terminator, so "abc\n" would pass here yet fail the oracle's RE2
    // '$' (end-of-text only) — and a newline inside a "word" would ride
    // into the '|'-delimited segment strings. Absolute anchors close it.
    .filter(col("word").rlike("""\A[a-z]+\z"""))
    .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn the merge list alone (no final-pair audit) — the shareable
    * artifact [[tokenizeCorpus]] applies corpus-wide. Returns the merges
    * and the final segmentation table (vocab-bounded) for callers that
    * also audit the end state ([[trainBpe]]). */
  def learnMerges(docs: DataFrame, tokCol: String, vocabCap: Int,
      rounds: Int): (Seq[Merge], DataFrame) =
    learnMergesFromCounts(wordCounts(docs, tokCol), vocabCap, rounds)

  /** [[learnMerges]] from a pre-built (word, cnt) dictionary — the
    * entry point a folded streaming dictionary trains through. */
  def learnMergesFromCounts(counts: DataFrame, vocabCap: Int,
      rounds: Int): (Seq[Merge], DataFrame) = {
    require(rounds >= 1 && vocabCap >= 2,
      "need at least one round and two vocab words")
    val vocab = counts
      .orderBy(desc("cnt"), asc("word"))
      .limit(vocabCap)

    // initial segmentation: one symbol per character. split(word, "")
    // can yield empty-string edge elements depending on the regex
    // engine's split contract — filter them out rather than rely on it.
    // vocab-bounded table iterated `rounds` times: truncate the
    // corpus-shuffle lineage once so no round replays the corpus scan
    val seg0 = Lineage.cut(vocab.select(col("word"), col("cnt"),
      concat(lit("|"),
        array_join(filter(split(col("word"), ""), x => x =!= ""), "||"),
        lit("|")).as("seg"))).df

    var seg = seg0
    val merges = Seq.newBuilder[Merge]
    (1 to rounds).foreach { round =>
      val top = pairTable(seg)
        .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"BPE round $round found no adjacent pairs — vocab degenerated " +
          "to single-symbol words; lower `rounds` or raise `vocabCap`")
      val (l, r, c) = (top(0).getString(0), top(0).getString(1),
        top(0).getLong(2))
      merges += Merge(round.toLong, l, r, c)
      seg = seg.withColumn("seg", org.apache.spark.sql.functions.replace(
        col("seg"), lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|")))
    }
    (merges.result(), seg)
  }

  def trainBpe(docs: DataFrame, tokCol: String, vocabCap: Int,
      rounds: Int, topPairs: Int): DataFrame =
    trainBpeFromCounts(wordCounts(docs, tokCol), vocabCap, rounds, topPairs)

  /** [[trainBpe]] from a pre-built (word, cnt) dictionary (s21's folded
    * streaming state) — same output contract as trainBpe. */
  def trainBpeFromCounts(counts: DataFrame, vocabCap: Int,
      rounds: Int, topPairs: Int): DataFrame = {
    require(topPairs >= 1, "need at least one audit pair")
    val spark = counts.sparkSession
    import spark.implicits._
    val (merges, seg) = learnMergesFromCounts(counts, vocabCap, rounds)
    val mergeRows = merges
      .map(m => (m.round, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
      .toDF("round", "lhs", "rhs", "merged", "weighted_count")
    val finalPairs = pairTable(seg)
      .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
      .limit(topPairs)
      .select(lit((merges.size + 1).toLong).as("round"), col("lhs"),
        col("rhs"), concat(col("lhs"), col("rhs")).as("merged"),
        col("pair_count").as("weighted_count"))
    mergeRows.unionAll(finalPairs)
  }

  /**
   * TOKENIZE THE CORPUS under a learned merge list — the inference half
   * of BPE and THE whole-corpus pass of an LLM pipeline (every token
   * budget, packing ratio, and cost estimate downstream consumes these
   * counts). Applying `merges` in learned order to each alphabetic
   * word's character segmentation is a chain of |merges| replace()
   * calls over the delimited-string form — pure per-row expressions,
   * so the corpus pass is MAP-ONLY (zero shuffle beyond the input
   * scan; at 100 TB this is the difference between a pass and a job).
   * Non-alphabetic tokens are outside the tokenizer's word universe
   * and are excluded from the counts by the same ^[a-z]+$ contract
   * training used.
   *
   * Output per document: n_words (alphabetic), n_chars (their total
   * length), n_bpe_tokens (symbols after all merges) — exact longs;
   * a symbol count is derived from the delimiter structure
   * (k symbols ⇔ k−1 "||" separators) without re-splitting.
   */
  def tokenizeCorpus(docs: DataFrame, idCol: String, tokCol: String,
      merges: Seq[Merge]): DataFrame = {
    require(merges.nonEmpty, "need a learned merge list")
    // \A..\z, same anchors as wordCounts: training and inference must
    // agree on the word universe, or a line-terminator-suffixed token
    // would be counted here but absent from the trained dictionary
    val alpha = filter(col(tokCol), w => w.rlike("""\A[a-z]+\z"""))
    def segOf(word: Column): Column = merges.foldLeft(
      concat(lit("|"),
        array_join(filter(split(word, ""), x => x =!= ""), "||"),
        lit("|"))) { (seg, m) =>
      org.apache.spark.sql.functions.replace(seg,
        lit("|" + m.lhs + "||" + m.rhs + "|"),
        lit("|" + m.lhs + m.rhs + "|"))
    }
    // k symbols ⇔ k-1 '||' separators: collapsing '||'→'|' shrinks the
    // string by exactly (k-1) chars
    def nSymbols(word: Column): Column = {
      val seg = segOf(word)
      length(seg) - length(org.apache.spark.sql.functions.replace(
        seg, lit("||"), lit("|"))) + lit(1L)
    }
    docs.select(col(idCol),
      size(alpha).cast("long").as("n_words"),
      coalesce(aggregate(alpha, lit(0L), (acc, w) => acc + length(w)),
        lit(0L)).as("n_chars"),
      coalesce(aggregate(alpha, lit(0L), (acc, w) => acc + nSymbols(w)),
        lit(0L)).as("n_bpe_tokens"))
  }
}
