package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.graph.GraphOps
import graft.operators.Temporal

/** Adversarial skew-stress per cap knob: every bound the engine exposes
  * gets one synthetic worst case (hot key / stop-shingle / mega-bucket /
  * wide histogram / giant component) asserting BOTH that the candidate
  * or driver-side work stays bounded under the cap AND that the capped
  * result is documented-correct — dropped-by-design or exactly equal,
  * never silently truncated. (containment's maxShingleDocFreq has its
  * own adversarial spec in DedupSpec — "boilerplate corpus".)
  */
class SkewKnobSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("ngramJaccard maxShingleDocFreq: a stop-shingle corpus's " +
    "quadratic candidate fan-out collapses under the cap; rare-shingle " +
    "duplicates survive it") {
    // 40 docs all sharing one boilerplate sentence (df=40 shingles) +
    // unique tails; plus docs 100/101: genuine near-dups via RARE
    // shingles (df=2) with no boilerplate
    val boiler = "subscribe to our newsletter for updates today"
    val crowd = (1L to 40L).map(i =>
      i -> (boiler + s" tail$i word${i}a word${i}b"))
    val dup = "zeta quark lattice proton meson hadron gluon photon"
    val corpus = (crowd ++ Seq(100L -> dup, 101L -> (dup + " extra")))
      .toDF("doc_id", "text")
    // the candidate-join size IS Σ df·(df−1)/2 over surviving shingles
    // — measure it directly from the same (doc, shingle) relation the
    // operator joins on
    def candidates(cap: Long): Long = {
      val df = Dedup.docShingles(corpus).groupBy($"s")
        .agg(count(lit(1)).as("df"))
      val kept = if (cap <= 0) df else df.filter($"df" <= cap)
      kept.agg(sum($"df" * ($"df" - 1)).cast("long")).as[Long].head() / 2
    }
    val uncapped = candidates(0)
    val capped = candidates(5)
    assert(uncapped >= 40L * 39 / 2, // every crowd pair is a candidate
      s"expected quadratic fan-out uncapped, got $uncapped")
    assert(capped < 200, // cap kills the df=40 shingles; only rare left
      s"capped candidate count should be near-linear, got $capped")
    // capped RESULT: crowd pairs gone (their only overlap was
    // boilerplate), the rare-shingle duplicate pair survives
    val pairs = Dedup.ngramJaccard(corpus, 0.3, maxShingleDocFreq = 5L)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((100L, 101L)),
      s"capped pairs: ${pairs.toSeq}")
  }

  test("minHashLsh maxBucketSize: a mega-bucket (40 identical docs) is " +
    "skipped wholesale; a small-bucket duplicate pair still verifies") {
    val crowdText = "the quick brown fox jumps over the lazy dog again"
    val pairText = "zeta quark lattice proton meson hadron gluon photon"
    val corpus = ((1L to 40L).map(i => i -> crowdText) ++
      Seq(100L -> pairText, 101L -> pairText)).toDF("doc_id", "text")
    // bucket occupancy after the cap filter is bounded by construction
    // — recompute the band buckets the operator builds and assert the
    // cap actually removes the 40-doc buckets
    val sig = Dedup.minHashSignatures(corpus, 16)
    val buckets = sig
      .withColumn("b", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket",
        concat_ws(",", slice($"sig", $"b" * 4 + 1, lit(4))))
      .groupBy($"b", $"bucket").agg(count(lit(1)).as("n"))
    assert(buckets.agg(max($"n")).as[Long].head() === 40L)
    assert(buckets.filter($"n" <= 10).agg(max($"n")).as[Long].head() === 2L)
    // uncapped: the identical crowd verifies as C(40,2) pairs (real
    // duplicates — LSH exists to find exactly this, at |bucket|² cost)
    val uncapped = Dedup.minHashLsh(corpus, 0.9)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 40 * 39 / 2 + 1)
    // capped: the mega-buckets are skipped (documented recall trade —
    // dropped-by-design, not truncated), the 2-doc bucket still pairs
    val capped = Dedup.minHashLsh(corpus, 0.9, maxBucketSize = 10L)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)), s"capped: $capped")
  }

  test("asofJoin hotKeyBinWidth: one hot key spreads across bins with " +
    "EXACTLY the unbinned result; per-bin window partitions stay small") {
    // single hot key: 1000 events, 300 quotes — the unbinned window
    // serializes all 1300 rows on one task; width=10 caps any (key,
    // bin) partition at (events+quotes+carry) per bin
    val left = (1L to 1000L).map(t => ("hot", t, t * 10))
      .toDF("key", "ts", "event_id")
    val right = (1L to 300L).map(i => ("hot", i * 3L, i * 100L))
      .toDF("key", "ts", "qval")
    val plain = Temporal.asofJoin(left, right, "key", "ts",
      Seq("event_id"), "qval")
    val binned = Temporal.asofJoin(left, right, "key", "ts",
      Seq("event_id"), "qval", hotKeyBinWidth = 10L)
    val a = plain.as[(String, Long, Long, Option[Long])].collect().toSet
    val b = binned.as[(String, Long, Long, Option[Long])].collect().toSet
    assert(a === b)
    assert(a.size === 1000)
    // the serialized unit under binning is one (key, bin): ≤ 13 rows +
    // 1 carry here, vs 1300 for the raw key — the documented spread
    val maxBin = left.unionByName(right
        .select($"key", $"ts", lit(0L).as("event_id")))
      .groupBy($"key", floor($"ts" / 10).as("bin"))
      .agg(count(lit(1)).as("n")).agg(max($"n")).as[Long].head()
    assert(maxBin <= 15, s"bin partitions should be small, got $maxBin")
  }

  test("heavyVertices histCap: a histogram wider than the cap falls " +
    "back to the distributed path with an identical threshold cut") {
    // adversarial width: every degree distinct (60 rows > histCap=10),
    // mass concentrated at the top so ε=0.1 cuts inside the tail
    val degree = (1L to 60L).map(v => (v, v)).toDF("vertex", "degree")
    val fast = GraphOps.heavyVertices(degree, 0.1, histCap = 100000)
      .as[(Long, Long)].collect().toSet
    val fallback = GraphOps.heavyVertices(degree, 0.1, histCap = 10)
      .as[(Long, Long)].collect().toSet
    assert(fallback === fast, "distributed fallback must cut identically")
    assert(fast.nonEmpty && fast.size < 60, s"cut=${fast.size}")
    // the fast path's driver traffic is bounded BY CONSTRUCTION at
    // histCap+1 collected histogram rows; the fallback's is two scalars
  }

  test("clusters cap: a giant single component over the cap " +
    "falls back to star contraction with identical labels") {
    // one 400-edge chain = one component; cap=100 < edges forces the
    // distributed path; driver collect is bounded at cap+1 rows by
    // construction on the fast path either way
    val docs = (1L to 401L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = (1L to 400L).map(i => (i, i + 1)).toDF("da", "db")
    val fast = Dedup.clusters(docs, pairs, cap = 2000000)
      .select($"doc_id", $"cluster").as[(Long, Long)].collect().toMap
    val fallback = Dedup.clusters(docs, pairs, cap = 100)
      .select($"doc_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(fallback === fast)
    assert(fast.values.toSet.size === 1, "chain must collapse to one cluster")
  }
}
