package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Byte-pair-encoding merge learning — the subword-tokenizer training
  * pass of an LLM data pipeline (reference-free; brief-mandated).
  *
  * Algorithm (classic BPE): words split into single-character symbols;
  * each round counts adjacent symbol pairs across the corpus (weighted
  * by word frequency), merges the most frequent pair everywhere
  * (greedy leftmost, ties broken lexicographically), and repeats.
  *
  * Scale shape: the corpus collapses to the WORD-FREQUENCY table first
  * (one tokenize + partial-agg'd groupBy — the only corpus-sized
  * shuffle, shared with llm_vocab_topk's shape); every merge round then
  * runs over the vocabulary only: one partial-agg'd pair count
  * (vocab-sized, tiny vs corpus), a single-row argmax collect, and a
  * broadcast-as-literal per-row rewrite. N rounds = N vocab-sized
  * shuffles; the corpus is never re-read. This is the same
  * iterate-with-broadcast-decision pattern as k-means refinement and
  * PageRank (Similarity.kmeansIvf, GraphOps.pageRank).
  *
  * Determinism contract (what makes the DuckDB oracle exact): a symbol
  * sequence is encoded as a string where every symbol owns its flanking
  * spaces (`" a  b  c "`), so `replace(enc, " l  r ", " lr ")` —
  * leftmost non-overlapping in both engines — IS the greedy BPE merge:
  * a consumed symbol's spaces go with it, so overlapping candidate
  * pairs (`a a a`) merge exactly like the sequential fold would.
  * Pair counts are exact longs; the argmax tie-breaks on (count desc,
  * left asc, right asc).
  */
object Bpe {

  case class Merge(round: Long, lhs: String, rhs: String, cnt: Long)

  /** Corpus word-frequency table (whitespace tokens, as the rest of
    * the text stack tokenizes). */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Applies learned merges to the word table — the TOKENIZE step that
    * pairs with [[learn]] (train + apply = the full subword tokenizer).
    * Returns `(word, freq, tokens)` with `tokens` the word's subword
    * array after all merges, greedy-leftmost per round exactly as
    * training folded them. A broadcast-free per-row rewrite: the merge
    * list is driver-side literals, so encoding a 100-TB corpus is one
    * embarrassingly parallel pass. */
  def encode(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val enc0 = regexp_replace(col("word"), "(.)", " $1 ")
    val enc = merges.foldLeft(enc0) { (e, m) =>
      replace(e, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))
    }
    words.select(col("word"), col("freq"),
      split(trim(enc), "  ").as("tokens"))
  }

  /** Learns the top-`rounds` merges. Returns one row per round:
    * `(round, lhs, rhs, cnt)` — the merged pair and its corpus
    * frequency at selection time. */
  def learn(spark: SparkSession, words: DataFrame, rounds: Int): Seq[Merge] = {
    // localCheckpoint, NOT cache: each round derives the next encoding
    // from the previous one, and chained caches keep the whole lineage
    // alive — by round ~20 the nested-plan bookkeeping (every cached
    // plan rendering/canonicalizing the one below it) turns
    // super-linear and stalls the driver (the same exponential-lineage
    // trap PageRank's per-round checkpoint exists for, GraphOps). The
    // eager local checkpoint pins the vocab-sized result and CUTS the
    // plan, so round cost is flat at any merge depth.
    var enc = Materialize.cut(words
      .select(regexp_replace(col("word"), "(.)", " $1 ").as("enc"),
        col("freq")))
    val merges = Seq.newBuilder[Merge]
    try {
      for (round <- 1 to rounds) {
        val winners = enc
          .select(col("freq"), split(trim(col("enc")), "  ").as("t"))
          .select(col("freq"), explode(expr(
            "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
              "(x, i) -> struct(x AS l, t[i + 1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (winners.isEmpty) return merges.result()
        val w = winners.head
        val (l, r, c) = (w.getString(0), w.getString(1), w.getLong(2))
        merges += Merge(round.toLong, l, r, c)
        // broadcast the decision as literals; per-row rewrite, no shuffle.
        // Column-API replace with lit() args: learned symbols never pass
        // through the SQL parser, so quotes/backslashes in real-corpus
        // tokens (apostrophes survive whitespace tokenization) are safe.
        val next = Materialize.cut(enc.withColumn("enc",
          replace(col("enc"), lit(s" $l  $r "), lit(s" $l$r "))))
        Materialize.release(enc)
        enc = next
      }
      merges.result()
    } finally Materialize.release(enc)
  }

  /** [[learn]] at production depth: one driver round-trip learns a
    * whole BATCH of merges, not one. A 30k-merge tokenizer run cannot
    * afford 30k sequential pair-count jobs; this cuts the round count
    * by the average accepted-batch size while producing the EXACT
    * sequential-greedy merge list ([[BpeSpec]] pins equivalence).
    *
    * Soundness (why a batch can be accepted without re-counting):
    * take the pair table of a round ordered (cnt desc, lhs asc, rhs
    * asc) and accept the maximal CONSECUTIVE prefix p1..pn that is
    * pairwise symbol-disjoint, then trim the tail until every accepted
    * pair's count is STRICTLY above `stopCnt`, the best count left
    * behind. Then, replaying sequential greedy:
    *  - an accepted pair shares no symbol with earlier accepted pairs,
    *    so its occurrences — and its count — are untouched when its
    *    turn comes;
    *  - every non-accepted existing pair starts at ≤ stopCnt and
    *    merging only DECREASES existing pairs (a merge fuses two
    *    symbols into one and can never create a new adjacency between
    *    two old symbols);
    *  - a pair CREATED by an earlier accepted merge (l,r)→lr has the
    *    form (x,lr)/(lr,y), and each of its occurrences embeds an
    *    occurrence of the OLD pair (x,l)/(r,y). For l ≠ r that old
    *    pair shares a symbol with an accepted pair without being one
    *    (accepted pairs are mutually disjoint), so it was left behind:
    *    its count — and the created pair's — is ≤ stopCnt. The one
    *    exception is a SELF-pair merge (l,l)→ll, whose run-splitting
    *    creates (ll,ll)/(ll,l) pairs that embed the accepted pair
    *    ITSELF; a run of m symbols holds m−1 old pairs but at most
    *    ⌊m/2⌋−1 created ones, so those are ≤ ⌊cnt(l,l)/2⌋ — tracked as
    *    `selfBound` and enforced on every LATER accepted pair.
    * So at each accepted pair's turn it strictly dominates every
    * created pair and dominates-or-precedes (count, then the same
    * lexicographic tie-break greedy uses) every original pair — and
    * sequential greedy picks exactly p1..pn in order. The first pair
    * alone is always a legal batch (that IS sequential greedy), so
    * progress is guaranteed: worst case (adversarially overlapping
    * vocabularies) degrades to [[learn]]'s one-merge rounds, never
    * past it. */
  def learnBatched(spark: SparkSession, words: DataFrame, rounds: Int,
                   maxPerRound: Int = 64): Seq[Merge] =
    learnBatchedCounted(spark, words, rounds, maxPerRound)._1

  /** [[learnBatched]] plus the number of driver round-trips it took —
    * the lever this method exists for (BpeSpec reports the batching
    * factor on the bench corpus). */
  def learnBatchedCounted(spark: SparkSession, words: DataFrame,
                          rounds: Int, maxPerRound: Int = 64)
      : (Seq[Merge], Int) = {
    // localCheckpoint per round, as in [[learn]]: flat round cost at
    // production merge depth (chained caches go super-linear ~20 deep)
    var enc = Materialize.cut(words
      .select(regexp_replace(col("word"), "(.)", " $1 ").as("enc"),
        col("freq")))
    val merges = Seq.newBuilder[Merge]
    var learned = 0
    var trips = 0
    try {
      while (learned < rounds) {
        val want = math.min(rounds - learned, maxPerRound)
        val top = enc
          .select(col("freq"), split(trim(col("enc")), "  ").as("t"))
          .select(col("freq"), explode(expr(
            "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
              "(x, i) -> struct(x AS l, t[i + 1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(want + 1).collect()
        trips += 1
        if (top.isEmpty) return (merges.result(), trips)
        // maximal disjoint consecutive prefix (stop at first overlap)
        var used = Set.empty[String]
        var n = 0
        while (n < math.min(want, top.length) &&
            !used(top(n).getString(0)) && !used(top(n).getString(1))) {
          used += top(n).getString(0)
          used += top(n).getString(1)
          n += 1
        }
        // strict frequency gap: every accepted pair must beat both the
        // best pair left behind and anything an EARLIER accepted
        // self-pair merge can create (<= floor(cnt/2), see scaladoc)
        val stopCnt =
          if (n < top.length) top(n).getLong(2) else Long.MinValue
        val limit = n
        var selfBound = Long.MinValue
        n = 1 // p1 alone is sequential greedy — always safe
        if (top(0).getString(0) == top(0).getString(1))
          selfBound = top(0).getLong(2) / 2
        while (n < limit &&
            top(n).getLong(2) > math.max(stopCnt, selfBound)) {
          if (top(n).getString(0) == top(n).getString(1))
            selfBound = math.max(selfBound, top(n).getLong(2) / 2)
          n += 1
        }
        val batch = top.take(n).zipWithIndex.map { case (w, i) =>
          Merge(learned + i + 1L, w.getString(0), w.getString(1),
            w.getLong(2))
        }
        merges ++= batch
        learned += n
        val next = Materialize.cut(enc.withColumn("enc",
          batch.foldLeft(col("enc")) { (e, m) =>
            replace(e, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))
          }))
        Materialize.release(enc)
        enc = next
      }
      (merges.result(), trips)
    } finally Materialize.release(enc)
  }
}
