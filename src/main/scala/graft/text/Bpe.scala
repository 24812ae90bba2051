package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich, Haddow & Birch
  * 2016, "Neural machine translation of rare words with subword
  * units") — the vocabulary-learning half of the BPE/GPT tokenizer
  * stack, distributed the way the published algorithm intends:
  *
  *  1. ONE corpus pass builds the weighted word vocabulary
  *     (word -> count). All subsequent rounds iterate over the VOCAB
  *     table, which is orders of magnitude smaller than the corpus —
  *     at 100 TB the corpus is read exactly once.
  *  2. Per merge round: adjacent-pair frequencies = one explode + one
  *     map-side-combinable hash-agg over the vocab; the winning pair
  *     (max frequency, ties to the lexicographically smallest pair —
  *     the deterministic stand-in for the paper's unspecified tie) is
  *     ONE collected row. That single-row driver action per round is
  *     inherent: classic BPE is sequential in the merge order.
  *  3. The merge is applied to the vocab's token arrays with a
  *     codegen'd `aggregate` fold — leftmost-first, non-overlapping,
  *     exactly the reference semantics (a token minted this round
  *     never back-merges with the token before it in the same round).
  *
  * Rounds are genuinely data-dependent, so the learned table is
  * driver-checked rows-only (like q13's sequential coloring); BpeSpec
  * pins the canonical low/lower/newest/widest merge sequence.
  */
object Bpe {

  /** End-of-word marker appended to every word's character sequence
    * (the paper's '</w>'), so word-final subwords are distinct units. */
  val EndMark = "</w>"

  /** A word as its initial BPE symbol sequence: characters + EndMark. */
  private[graft] def charTokens(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(EndMark)))

  /** One merge application: rewrite `toks` replacing adjacent (a, b)
    * with the concatenated token, leftmost-first, non-overlapping. */
  private[graft] def applyMerge(toks: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(toks,
      array().cast("array<string>"),
      (acc, t) =>
        // try_element_at: NULL (not an ANSI index error) on the empty
        // accumulator; the null comparison falls to otherwise().
        when(try_element_at(acc, lit(-1)) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(t))))
  }

  /** The weighted word vocabulary of `docs.textCol`: (toks, cnt) with
    * toks the initial character sequence. One corpus pass. */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Analyzer.tokenize(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(charTokens(col("word")).as("toks"), col("cnt"))

  /** Learn `numMerges` BPE merges: (rank, left, right, freq), rank 1 =
    * first (most frequent) merge.
    *
    * `batch` bounds the DRIVER-JOB count at scale: classic BPE is one
    * Spark job per merge (a 32k-merge vocab learn = 32k sequential
    * jobs). With `batch` = k each round collects the top-k pairs and
    * applies the maximal RANK-ORDER PREFIX whose pairs are mutually
    * token-disjoint (and touch no token minted earlier in the same
    * prefix) in ONE vocab pass — merging (a₁,b₁) cannot change the
    * adjacency count of a token-disjoint (a₂,b₂), so every batched
    * merge was a then-current top pair and the learned sequence stays a
    * valid BPE vocabulary (the standard fast-trainer batching;
    * deviation from the strict sequential order is possible only when
    * a pair involving a just-minted token would out-rank a later batch
    * member at equal frequency). `batch = 1` (default) is EXACTLY the
    * classic sequential algorithm. */
  def learnMerges(docs: DataFrame, textCol: String,
                  numMerges: Int,
                  batch: Int = 1,
                  onRound: Int => Unit = _ => ()): Seq[(Int, String, String, Long)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val gens = new graft.util.Ckpt.Generations
    var vocab = gens.next(vocabulary(docs, textCol))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      onRound(rank)
      val want = math.min(batch, numMerges - rank + 1)
      val top = vocab
        .filter(size(col("toks")) > 1) // sequence(1,0) would descend
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + lit(1)).as("b")))).as("p"),
          col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(want)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // Maximal disjoint prefix: stop at the first pair sharing a
        // token with (or equal to a token minted by) an earlier taken
        // pair — the remainder re-ranks next round with fresh counts.
        val taken = Seq.newBuilder[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var open = true
        top.foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          if (open && !used(a) && !used(b) && !used(a + b)) {
            taken += ((a, b, r.getLong(2)))
            used ++= Seq(a, b, a + b)
          } else open = false
        }
        val batchMerges = taken.result()
        batchMerges.zipWithIndex.foreach { case ((a, b, f), i) =>
          out += ((rank + i, a, b, f))
        }
        val newToks = batchMerges.foldLeft(col("toks")) {
          case (c, (a, b, _)) => applyMerge(c, a, b)
        }
        vocab = vocab
          .select(newToks.as("toks"), col("cnt"))
          .transform(gens.next)
        rank += batchMerges.size
      }
    }
    out.result()
  }

  /** Encode words of `textCol` with an already-learned merge list: the
    * inference half (one fold per merge, in rank order — no corpus
    * statistics, embarrassingly parallel). Returns (word, toks). */
  def encode(docs: DataFrame, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(explode(Analyzer.tokenize(col(textCol))).as("word"))
      .distinct()
    val toks = merges.foldLeft(charTokens(col("word"))) {
      case (c, (a, b)) => applyMerge(c, a, b)
    }
    words.select(col("word"), toks.as("toks"))
  }
}
