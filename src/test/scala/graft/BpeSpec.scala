package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Bpe

/** BPE merge learning: greedy-leftmost pair semantics (including
  * overlapping runs), frequency weighting, and the lexicographic
  * tie-break — the invariants the space-owning string encoding must
  * preserve for the oracle to be exact. */
class BpeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("merges count pairs by weight, merge greedily, and tie-break lexically") {
    // "aaaa" x3: round 1 pairs (a,a) weight 3*3=9 — and greedy merge
    // must pair as (aa)(aa), NOT overlap; "bc" x5 gives (b,c)=5
    val words = Seq(("aaaa", 3L), ("bc", 5L), ("ab", 2L))
      .toDF("word", "freq")
    val merges = Bpe.learn(spark, words, rounds = 3)
    assert(merges.map(m => (m.round, m.lhs, m.rhs, m.cnt)) === Seq(
      (1L, "a", "a", 9L),   // 3 adjacent pairs x freq 3
      // after merging: "aaaa" -> [aa, aa]; pairs now (aa,aa)=3, (b,c)=5,
      // (a,b)=2
      (2L, "b", "c", 5L),
      (3L, "aa", "aa", 3L)))
  }

  test("ties break on (lhs, rhs) ascending") {
    val words = Seq(("xy", 2L), ("xz", 2L)).toDF("word", "freq")
    val m = Bpe.learn(spark, words, rounds = 1)
    assert(m.head.lhs === "x" && m.head.rhs === "y" && m.head.cnt === 2L)
  }

  test("symbols with quotes/backslashes survive the merge rewrite") {
    // apostrophes survive whitespace tokenization in real corpora; the
    // learned symbol must go through the Column API as a literal, not
    // the SQL parser (ADVICE r9: expr-string interpolation broke here)
    val words = Seq(("don't", 5L), ("won't", 3L), ("""a\'b""", 2L))
      .toDF("word", "freq")
    val merges = Bpe.learn(spark, words, rounds = 4)
    assert(merges.size === 4)
    // (o,n), (n,'), (',t) all hit don't(5)+won't(3) = 8; the lexical
    // tie-break picks (',t) first (ASCII ' < n < o), then (n,'t) —
    // quote-bearing symbols in lhs AND rhs of the rewrite
    assert(merges.head.lhs === "'" && merges.head.rhs === "t" &&
      merges.head.cnt === 8L)
    assert(merges(1).lhs === "n" && merges(1).rhs === "'t" &&
      merges(1).cnt === 8L)
  }

  test("encode applies merges greedy-leftmost, matching training's fold") {
    val words = Seq(("aaaa", 3L), ("bc", 5L), ("ab", 2L))
      .toDF("word", "freq")
    val merges = Bpe.learn(spark, words, rounds = 3)
    val enc = Bpe.encode(words, merges)
      .select($"word", $"tokens").as[(String, Seq[String])]
      .collect().toMap
    // after (a,a), (b,c), (aa,aa): aaaa -> [aaaa]; bc -> [bc]; ab stays
    // split because (a,b) was never merged
    assert(enc("aaaa") === Seq("aaaa"))
    assert(enc("bc") === Seq("bc"))
    assert(enc("ab") === Seq("a", "b"))
    // no merges = character split
    val raw = Bpe.encode(words, Seq.empty)
      .select($"word", $"tokens").as[(String, Seq[String])].collect().toMap
    assert(raw("bc") === Seq("b", "c"))
  }

  test("stops early when no pairs remain") {
    val words = Seq(("ab", 1L)).toDF("word", "freq")
    val m = Bpe.learn(spark, words, rounds = 5)
    // round 1 merges (a,b); the single-symbol word has no pairs left
    assert(m.size === 1 && m.head.lhs === "a" && m.head.rhs === "b")
  }

  test("batched learner: self-pair merges must gate the batch") {
    // (a,a)=30 dominates; merging it CREATES (aa,aa)=10, which outranks
    // (b,c)=5 — a batch accepting (b,c) alongside (a,a) would diverge
    // from sequential greedy. The selfBound (<= 30/2) must reject it.
    val words = Seq(("aaaa", 10L), ("bc", 5L)).toDF("word", "freq")
    val seqM = Bpe.learn(spark, words, rounds = 3)
    val batM = Bpe.learnBatched(spark, words, rounds = 3)
    assert(seqM.map(m => (m.round, m.lhs, m.rhs, m.cnt)) === Seq(
      (1L, "a", "a", 30L), (2L, "aa", "aa", 10L), (3L, "b", "c", 5L)))
    assert(batM === seqM)
  }

  test("batched learner equals sequential on the bench corpus") {
    // the testdata vocabulary is tiny (31 words) and heavily
    // overlapping — adversarial for batching, which must then fall
    // back toward one-merge rounds WITHOUT diverging from sequential
    val words = Bpe.wordFreq(Tables.documents(spark, sf)).cache()
    try {
      val rounds = 24
      val seqM = Bpe.learn(spark, words, rounds)
      val (batM, trips) = Bpe.learnBatchedCounted(spark, words, rounds)
      assert(batM === seqM,
        s"batched merges diverged from sequential greedy:\n$batM\nvs\n$seqM")
      assert(trips < rounds,
        s"batching bought nothing: $trips trips for $rounds merges")
      info(s"$rounds merges learned in $trips driver round-trips")
    } finally { words.unpersist(); () }
  }

  test("batched learner: wide disjoint vocabulary collapses to few trips") {
    // 31 two-char words over disjoint alphabets with strictly distinct
    // frequencies: every pair is symbol-disjoint and gap-safe, so ONE
    // pair-count round-trip learns the whole merge list — the
    // production-corpus shape (large vocab, long frequency tail)
    val alpha = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val ws = alpha.grouped(2).take(31).zipWithIndex.map { case (cs, i) =>
      (cs.mkString, 1000L - 10L * i)
    }.toSeq
    val words = ws.toDF("word", "freq")
    val rounds = 20
    val seqM = Bpe.learn(spark, words, rounds)
    val (batM, trips) = Bpe.learnBatchedCounted(spark, words, rounds)
    assert(batM === seqM)
    assert(seqM.size === rounds)
    assert(trips === 1,
      s"disjoint gap-safe vocab should batch in one trip, took $trips")
  }

  test("batched learner handles quote-bearing symbols and ties") {
    val words = Seq(("don't", 5L), ("won't", 3L), ("""a\'b""", 2L))
      .toDF("word", "freq")
    assert(Bpe.learnBatched(spark, words, rounds = 4) ===
      Bpe.learn(spark, words, rounds = 4))
  }

  test("learning leaves no persisted round behind") {
    // each round's encoding is a checkpoint, whose blocks belong to the
    // RDD under its plan: Dataset.unpersist would free nothing there
    val sc = spark.sparkContext
    val words = Seq(("abcabc", 4L), ("aaaa", 3L), ("bcd", 5L))
      .toDF("word", "freq")
    val before = sc.getPersistentRDDs.keySet
    assert(Bpe.learn(spark, words, rounds = 5).size === 5)
    val after = sc.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"persisted RDDs left behind: ${after -- before}")
  }
}
