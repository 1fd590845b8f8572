package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}

/** Dedup + similarity quality properties on the sf0.001 documents
  * (which contain driver-planted near-duplicate pairs at Jaccard ≈0.99).
  */
class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()

  test("exact dedup groups normalized duplicates and keeps min id") {
    val corpus = Seq((1L, "Hello World "), (2L, "hello world"),
      (3L, "different")).toDF("doc_id", "text")
    val got = Dedup.exact(corpus)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("minhash LSH finds exactly the exact-Jaccard pairs at 0.8 (full recall)") {
    val exact = Dedup.ngramJaccard(docs, 0.8)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, 0.8)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // verification filter makes LSH ⊆ exact; banding at J≈0.99 ⇒ ⊇ too
    assert(lsh === exact)
  }

  test("incremental minhash against the band index equals the full LSH " +
    "restricted to cross-split pairs") {
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val incr = Dedup.minHashLshIncremental(corpus,
        Dedup.minHashBandIndex(corpus), batch, 0.8)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    // the full-corpus LSH's pairs that straddle the split (in either
    // orientation — full LSH orders by id, incremental by side)
    val full = Dedup.minHashLsh(docs, 0.8)
      .select($"da", $"db").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (c, n) => c % 5 != 0 && n % 5 == 0 }
      .toSet
    assert(incr === full)
    assert(incr.nonEmpty, "split should straddle some planted near-dups")
  }

  test("dedup clusters: labels propagate across chains, singletons keep") {
    val five = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((2L, 3L, 0.9), (3L, 4L, 0.9)).toDF("da", "db", "jacc")
    val got = Dedup.clusters(five, pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set((1L, 1L, true), (2L, 2L, true), (3L, 2L, false),
      (4L, 2L, false), (5L, 5L, true)))
    // a 10-node chain: the min id labels every doc 9 hops away
    val ten = (1L to 10L).toDF("doc_id")
    val chain = (1L to 9L).map(i => (i, i + 1, 0.9)).toDF("da", "db", "jacc")
    val labs = Dedup.clusters(ten, chain)
      .select($"cluster").as[Long].collect().toSet
    assert(labs === Set(1L))
  }

  test("clusters returns the component-min labels on both paths") {
    // random-ish graph: chains, a triangle, reversed edges, duplicates
    val docs = (1L to 30L).toDF("doc_id")
    val pairs = (Seq((2L, 3L), (3L, 4L), (10L, 9L), (9L, 8L), (20L, 21L),
      (21L, 22L), (22L, 20L), (2L, 3L), (15L, 14L)))
      .toDF("da", "db").withColumn("jacc", lit(0.9))
    // components {2,3,4} {8,9,10} {14,15} {20,21,22}; the rest singletons
    val label = Map(3L -> 2L, 4L -> 2L, 9L -> 8L, 10L -> 8L, 15L -> 14L,
      21L -> 20L, 22L -> 20L)
    val want = (1L to 30L).map { d =>
      val c = label.getOrElse(d, d); (d, c, c == d)
    }.toSet
    val fast = Dedup.clusters(docs, pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(fast === want)
    // cap=0 forces the star-contraction fallback through the same entrypoint
    val fallback = Dedup.clusters(docs, pairs, cap = 0)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(fallback === want)
  }

  test("clusters: a 64-doc chain is one cluster") {
    // the label needs 63 hops end to end — past any per-hop round
    // budget; union-find has no diameter limit
    val docs = (1L to 64L).toDF("doc_id")
    val chain = (1L to 63L).map(i => (i + 1, i, 0.9)).toDF("da", "db", "jacc")
    val got = Dedup.clusters(docs, chain)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === (1L to 64L).map(d => (d, 1L, d == 1L)).toSet)
  }

  test("dedup clusters on the corpus agree with the LSH pair graph") {
    val pairs = Dedup.minHashLsh(docs, 0.8).cache()
    val cl = Dedup.clusters(docs, pairs).cache()
    val byDoc = cl.select($"doc_id", $"cluster").as[(Long, Long)]
      .collect().toMap
    val ps = pairs.select($"da", $"db").as[(Long, Long)].collect()
    assert(ps.nonEmpty)
    // paired docs share a cluster; every cluster id is its own keeper
    assert(ps.forall { case (a, b) => byDoc(a) == byDoc(b) })
    val keeps = cl.filter($"keep").select($"doc_id").as[Long].collect().toSet
    assert(byDoc.values.toSet === keeps.intersect(byDoc.values.toSet) &&
      byDoc.values.forall(keeps.contains))
    pairs.unpersist(); cl.unpersist()
  }

  test("simhash near-dup pairs overlap the planted jaccard pairs") {
    val jacc = Dedup.ngramJaccard(docs, 0.8)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    val sim = Dedup.simHashPairs(docs, 3)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    // hamming ≤3 of 60 bits is a much tighter bar than Jaccard ≥0.8 (a
    // couple of changed words among ~90 flips >3 bit-sums), so simhash
    // recalls only the closest planted pairs — require a meaningful
    // overlap and no spurious explosion, not full recall.
    assert(jacc.intersect(sim).nonEmpty, "simhash found none of the planted pairs")
    assert(jacc.intersect(sim).size >= jacc.size / 5,
      s"simhash found ${jacc.intersect(sim).size} of ${jacc.size} planted pairs")
    // note: this corpus has a ~30-word vocabulary, so word-SET simhash
    // legitimately pairs many docs with similar vocabularies — no upper
    // bound asserted here.
  }

  test("LSH ANN results are a subset of brute-force rankings per query") {
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter($"vec_id" % 100 === 0)
    val brute = Similarity.bruteForceTopK(emb, queries, 50)
      .select($"query_id", $"nb_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, 4, 2)
      .select($"query_id", $"nb_id").as[(Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every bucket-local neighbor must be a genuine vector pair; spot-check
    // that cosine(query, nb) ranks within brute-force top-50
    val hits = lsh.count(brute.contains)
    assert(hits * 1.0 / lsh.length >= 0.3,
      s"LSH precision vs brute top-50 too low: $hits/${lsh.length}")
  }

  test("ANN recall is a measured contract: floors at registered settings, " +
    "monotone in the tuning knobs") {
    // recall@1 = |approx NN ∩ true NN| / |queries| over the registered
    // query subset (vec_id%25==0). This testdata is a HARD instance —
    // embeddings are near-random (max pairwise cos < 0.5), so the true
    // NN is barely above noise; on a real corpus where near-dups have
    // cos ≳ 0.9 bucketed recall approaches 1 (the minhash test above
    // shows exactly that at J≈0.99). The contract pinned here:
    // (a) a regression floor at the registered settings, and (b) the
    // tuning claim — recall rises monotonically with wider buckets
    // (fewer LSH planes) / more probes (IVF nprobe), reaching ≥0.85 at
    // nprobe=6 and ≥0.95 at nprobe=12 of the ~15 centroids. All the
    // math is 6-dp-rounded and seeded, so these measurements are
    // deterministic, not flaky.
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter($"vec_id" % 25 === 0)
    def recallAt(k: Int, approx: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteForceTopK(emb, queries, k)
        .select($"query_id", $"nb_id").as[(Long, Long)].collect().toSet
      val got = approx.select($"query_id", $"nb_id")
        .as[(Long, Long)].collect().toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val lshR1 = recallAt(1, Similarity.lshTopK(emb, queries, 4, 1))
    val lshR1w = recallAt(1, Similarity.lshTopK(emb, queries, 2, 1))
    val lshR1w1 = recallAt(1, Similarity.lshTopK(emb, queries, 1, 1))
    val ivfR1 = recallAt(1, Similarity.ivfTopK(emb, queries, 40, 1, 2))
    val ivfR1w = recallAt(1, Similarity.ivfTopK(emb, queries, 40, 1, 6))
    val ivfR1w2 = recallAt(1, Similarity.ivfTopK(emb, queries, 40, 1, 12))
    info(f"LSH recall@1: planes=4 $lshR1%.3f, planes=2 $lshR1w%.3f, " +
      f"planes=1 $lshR1w1%.3f")
    info(f"IVF recall@1: nprobe=2 $ivfR1%.3f, nprobe=6 $ivfR1w%.3f, " +
      f"nprobe=12 $ivfR1w2%.3f")
    assert(lshR1 >= 0.25, f"LSH recall@1 floor broken: $lshR1%.3f")
    assert(lshR1w >= lshR1 && lshR1w1 >= lshR1w,
      "LSH recall must not drop as buckets widen")
    assert(ivfR1 >= 0.5, f"IVF recall@1 floor broken: $ivfR1%.3f")
    assert(ivfR1w >= ivfR1 && ivfR1w2 >= ivfR1w,
      "IVF recall must not drop with more probes")
    assert(ivfR1w >= 0.85, f"IVF recall@1 at nprobe=6: $ivfR1w%.3f < 0.85")
    assert(ivfR1w2 >= 0.95, f"IVF recall@1 at nprobe=12: $ivfR1w2%.3f < 0.95")
  }

  test("banded cosine-LSH pair recall vs the exact verifier") {
    // pair recall = |LSH pairs| / |exact pairs| at the registered
    // llm_dedup_embcos banding (planes=4, bands=14). The subset test
    // below pins precision = 1 (exact verification); this one pins the
    // other direction — banding must surface nearly every true pair
    val emb = Tables.embeddings(spark, sf).cache()
    val exact = Similarity.cosinePairs(emb, 0.4)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshCosinePairs(emb, 0.4, planes = 4, bands = 14)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    val lshWide = Similarity.lshCosinePairs(emb, 0.4, planes = 3, bands = 40)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    val recallWide = lshWide.intersect(exact).size.toDouble / exact.size
    info(f"cosine-LSH pair recall = $recall%.3f (${lsh.size}/${exact.size}), " +
      f"wide = $recallWide%.3f (${lshWide.size}/${exact.size})")
    // near-random pairs at cos barely over 0.4 are the hardest case for
    // banding (on real near-dups at cos≳0.9 every band collides); the
    // contract: a floor at the registered banding, and recall must rise
    // with more/wider bands. Deterministic math — not flaky.
    assert(recall >= 0.6, f"pair recall floor broken: $recall%.3f")
    assert(recallWide >= recall,
      "recall must not drop with more, wider bands")
  }

  test("IVF ANN: bucket-local results never beat brute force, structure holds") {
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter($"vec_id" % 100 === 0)
    val brute = Similarity.bruteForceTopK(emb, queries, 1)
      .select($"query_id", $"cos").as[(Long, Double)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, queries, stride = 25, k = 3, nprobe = 2)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, _, nb, _) => q != nb })
    // an approximate index can only do as well as exact search
    assert(ivf.filter(_._2 == 1L).forall { case (q, _, _, c) => c <= brute(q) })
  }

  test("IVF probe with all buckets probed equals brute force over the corpus") {
    val emb = Tables.embeddings(spark, sf).cache()
    val corpus = emb.filter($"vec_id" % 25 =!= 0)
    val batch = emb.filter($"vec_id" % 25 === 0)
    val cents = Similarity.ivfCentroids(corpus, 40)
    val nCents = cents.count().toInt
    // probing every centroid bucket makes IVF search exhaustive over the
    // corpus — results must match brute force exactly (same rounding,
    // same tie order); with nprobe=2 they must be a subset of it
    val exhaustive = Similarity.ivfProbe(cents,
        Similarity.ivfIndex(corpus, cents), batch, k = 3, nprobe = nCents)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, batch, 3)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exhaustive.nonEmpty)
    assert(exhaustive === brute)
    val probed = Similarity.ivfProbe(cents,
        Similarity.ivfIndex(corpus, cents), batch, k = 3, nprobe = 2)
      .select($"query_id", $"nb_id").as[(Long, Long)].collect().toSet
    assert(probed.nonEmpty)
    assert(probed.forall { case (q, nb) => nb % 25 != 0 && q % 25 == 0 })
  }

  test("PQ/ADC with a corpus-wide shortlist equals brute force; " +
    "registered shortlist keeps a recall floor") {
    val emb = Tables.embeddings(spark, sf).cache()
    val queries = emb.filter($"vec_id" % 25 === 0)
    val n = emb.count().toInt
    // shortlisting the whole corpus makes the ADC stage a no-op filter
    // and the exact re-rank exhaustive — must equal brute force exactly
    // (same 6-dp rounding, same tie order, same self-exclusion)
    val exhaustive = Similarity.pqTopK(emb, queries, stride = 10, k = 3,
        shortlist = n)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exhaustive.nonEmpty)
    assert(exhaustive === brute)
    // registered settings (shortlist 10): approximate, but (a) never
    // beats exact search and (b) holds a measured recall floor on this
    // near-random (hard) corpus; deeper shortlists can only help
    val bruteTop = Similarity.bruteForceTopK(emb, queries, 1)
      .select($"query_id", $"cos").as[(Long, Double)].collect().toMap
    def recall1(shortlist: Int): Double = {
      val got = Similarity.pqTopK(emb, queries, stride = 10, k = 1,
          shortlist = shortlist)
        .select($"query_id", $"nb_id").as[(Long, Long)].collect().toSet
      val b1 = Similarity.bruteForceTopK(emb, queries, 1)
        .select($"query_id", $"nb_id").as[(Long, Long)].collect().toSet
      got.intersect(b1).size.toDouble / b1.size
    }
    val pq = Similarity.pqTopK(emb, queries, stride = 10, k = 3)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect()
    assert(pq.forall { case (q, _, nb, _) => q != nb })
    assert(pq.filter(_._2 == 1L).forall { case (q, _, _, c) => c <= bruteTop(q) })
    val r10 = recall1(10)
    val r40 = recall1(40)
    info(f"PQ recall@1: shortlist=10 $r10%.3f, shortlist=40 $r40%.3f")
    assert(r10 >= 0.2, f"PQ recall@1 floor broken: $r10%.3f")
    assert(r40 >= r10, "PQ recall must not drop as the shortlist deepens")
  }

  test("PQ probe over a prebuilt index (incremental path) is exhaustive-exact") {
    // a batch probing the standing corpus's persisted codebook+codes,
    // with the shortlist covering the corpus, must equal brute force of
    // the batch against the corpus — proves pqProbe searches the index,
    // not some re-derived state
    val emb = Tables.embeddings(spark, sf).cache()
    val corpus = emb.filter($"vec_id" % 25 =!= 0)
    val batch = emb.filter($"vec_id" % 25 === 0)
    val (codebook, codes) = Similarity.pqIndex(corpus, 10)
    val n = corpus.count().toInt
    val probe = Similarity.pqProbe(codebook, codes, corpus, batch, k = 3,
        shortlist = n)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, batch, 3)
      .select($"query_id", $"rank", $"nb_id", $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(probe.nonEmpty)
    assert(probe === brute)
  }

  test("spherical k-means refinement never decreases the cosine objective") {
    val emb = Tables.embeddings(spark, sf).cache()
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      emb.select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
        .crossJoin(broadcast(cents.select($"cent_id", $"ec")))
        .withColumn("cos", round(Similarity.cosine($"e", $"ec"), 6))
        .groupBy($"vec_id").agg(max($"cos").as("best"))
        .agg(sum($"best")).as[Double].head()
    val objs = (0 to 3).map {
      case 0 => objective(Similarity.ivfCentroids(emb, 40))
      case i => objective(Similarity.kmeansCentroids(emb, 40, i))
    }
    // Lloyd rounds improve (or hold) the objective; 6-dp rounding in the
    // assignment allows sub-ulp wiggle, hence the epsilon
    objs.sliding(2).foreach { case Seq(prev, next) =>
      assert(next >= prev - 1e-4, s"objective decreased: $objs")
    }
    assert(objs.last > objs.head,
      s"k-means never improved on the stride seed: $objs")
    // refined centroids drop into the same index/probe machinery
    val cents = Similarity.kmeansCentroids(emb, 40, 2)
    val got = Similarity.ivfProbe(cents, Similarity.ivfIndex(emb, cents),
      emb.filter($"vec_id" % 100 === 0), k = 3, nprobe = 2)
    assert(got.count() > 0)
  }

  test("LSH cosine pairs are a verified subset of brute-force pairs") {
    val emb = Tables.embeddings(spark, sf).cache()
    // low threshold so both paths return pairs at sf0.001 (max planted
    // cosine there is < 0.5)
    val brute = Similarity.cosinePairs(emb, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.lshCosinePairs(emb, 0.4, planes = 4, bands = 14)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(lsh.nonEmpty, "banded LSH found no candidate pairs")
    // exact-cosine verification makes LSH ⊆ brute force, bit-identical cos
    assert(lsh.subsetOf(brute), s"LSH produced non-pairs: ${lsh.diff(brute)}")
  }

  test("llm_pipeline minhash dedup stage agrees with the exact path") {
    val viaMinhash = llm.LlmQueries.pipeline(spark, sf, exactDedup = false)
      .collect().toSeq
    val viaExact = llm.LlmQueries.pipeline(spark, sf, exactDedup = true)
      .collect().toSeq
    assert(viaMinhash.nonEmpty)
    assert(viaMinhash === viaExact)
  }

  test("incremental cluster assignment: seeds, batch components, novel docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),       // dup of 3
      (5L, "solo lonely text with no duplicate anywhere here"))
      .toDF("doc_id", "text")
    val labels = Dedup.clusters(corpus, Dedup.minHashLsh(corpus, 0.8))
      .select($"doc_id", $"cluster")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // matches cluster 1
      (11L, "red orange yellow green blue indigo violet pink"), // novel pair...
      (12L, "red orange yellow green blue indigo violet pink"), // ...with 11
      (13L, "completely fresh words never seen before at all"))
      .toDF("doc_id", "text")
    val got = Dedup.clustersIncremental(corpus, labels,
        Dedup.minHashBandIndex(corpus), batch, 0.8)
      .orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (10L, 1L, 0L),   // adopted the standing cluster's label
      (11L, 11L, 1L),  // novel batch component: min id keeps
      (12L, 11L, 0L),
      (13L, 13L, 1L))) // matched nothing: own cluster
    // standing labels are untouched by construction — the same frame in,
    // the same frame out
    assert(labels.orderBy($"doc_id").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L)))
  }

  test("keepBest composes over precomputed clusters: ONE LSH pass total") {
    val docs = Tables.documents(spark, sf)
    // the shared pass: LSH + components run here (the pair edges are
    // collected into clusters()' driver-built label relation)...
    val labels = Dedup.clusters(docs, Dedup.minHashLsh(docs, 0.8))
    // ...so the composed keeper election must plan with ZERO signature
    // re-derivation: no md5 (the shared LSH hash) anywhere — the labels
    // arrive as a local relation, the quality score is plain word
    // algebra
    val kb = Dedup.keepBest(docs, labels)
    val plan = kb.queryExecution.executedPlan.toString
    assert(!plan.contains("md5"),
      s"keepBest re-derived the LSH subtree:\n${plan.take(2000)}")
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    // and the policy is sane: every SINGLETON cluster keeps its only
    // member, and every cluster keeps exactly one
    val sizes = kb.groupBy($"cluster")
      .agg(count(lit(1)).as("n"), sum($"keep").as("kept"))
    assert(sizes.filter($"kept" =!= 1).count() === 0,
      "a cluster kept zero or multiple members")
    assert(sizes.filter($"n" === 1 && $"kept" =!= 1).count() === 0)
  }

  test("dupSpans: interval union, cross-doc boilerplate, within-doc repeats") {
    // Tokens are single letters; k=4 keeps the arithmetic checkable.
    // d1/d2 share the 6-token prefix "a b c d e f" → 3 duplicated
    // 4-gram starts each (1,2,3), interval-union covers tokens 1..6.
    // d3 is fully unique. d4 repeats its own 4-gram "x y z w" twice
    // (within-doc duplication counts: duplicated starts {1, 5},
    // disjoint spans → covered = 8 of 9; the in-between grams
    // "y z w x" / "z w x y" / "w x y z" each occur once).
    val docs = Seq(
      (1L, "a b c d e f p q r"),
      (2L, "a b c d e f s t u"),
      (3L, "m n o g h i j k l"),
      (4L, "x y z w x y z w v")
    ).toDF("doc_id", "text")
    val out = llm.Dedup.dupSpans(docs, k = 4).orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out === Seq(
      (1L, 9L, 3L, 6L, 0.666667),
      (2L, 9L, 3L, 6L, 0.666667),
      (3L, 9L, 0L, 0L, 0.0),
      (4L, 9L, 2L, 8L, 0.888889)))
  }

  test("dupSpansIncremental over the standing gram index equals a full " +
      "recompute restricted to the batch") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val incr = llm.Dedup.dupSpansIncremental(
        llm.Dedup.gramIndex(corpus, k = 8), batch, k = 8)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    val full = llm.Dedup.dupSpans(docs, k = 8)
      .filter($"doc_id" % 5 === 0).orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(incr.nonEmpty)
    assert(incr === full)
  }

  test("cosine of a vector with itself is 1") {
    val one = Tables.embeddings(spark, sf).limit(1)
      .select(Similarity.cosine(
        transform($"embedding", _.cast("double")),
        transform($"embedding", _.cast("double"))).as("c"))
      .as[Double].collect().head
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("JL projection preserves pairwise distances within JL bounds") {
    // ±1 projection to k=16: E[||Pa−Pb||²] = k·||a−b||², per-pair std
    // ≈ sqrt(2/k) ≈ 35% — assert every sampled pair inside a loose 5σ
    // band and the median ratio tight around 1.
    val proj = SparkEntry.queries("llm_jl_project")(
        spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3.toDouble / 1e6))
      .toMap
    val orig = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val ids = orig.keys.toSeq.sorted
    val pairs = ids.indices.take(60).map(i =>
      (ids(i), ids((i * 37 + 11) % ids.length))).filter(p => p._1 != p._2)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = pairs.map { case (a, b) =>
      (d2(proj(a).toSeq, proj(b).toSeq) / 16.0) / d2(orig(a), orig(b))
    }.sorted
    // hard band ~ the χ²_16/16 tails (an extreme pair at k=16 can
    // land near 0.13 — observed 0.147 on this corpus)
    assert(ratios.forall(r => r > 0.1 && r < 5.0),
      s"JL bound violated: min ${ratios.head}, max ${ratios.last}")
    val median = ratios(ratios.length / 2)
    assert(median > 0.7 && median < 1.4, s"median ratio $median")
  }

  test("semDedup: keep/drop is exactly the pairwise id-minimal policy") {
    // a dropped vector has SOME lower-id cluster-mate over threshold;
    // a kept vector has NONE — asserted against an independent exact
    // recomputation of within-cluster cosines from the labels.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val res = Similarity.semDedup(emb, stride = 40, iters = 2,
      threshold = 0.30)
    val labels = res.select($"vec_id", $"cluster").withColumnRenamed(
      "vec_id", "id")
    val e = emb.select($"vec_id".as("id"),
      transform($"embedding", _.cast("double")).as("e"))
      .join(labels, "id")
    val over = e.as("x").join(e.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .filter(round(Similarity.cosine(col("x.e"), col("y.e")), 6) >= 0.30)
      .select(col("y.id").as("vec_id")).distinct()
      .as[Long].collect().toSet
    val byKeep = res.as[(Long, Long, Long)].collect()
      .groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byKeep.getOrElse(0L, Set.empty) === over)
    assert(byKeep(1L).intersect(over).isEmpty)
    assert(over.nonEmpty) // threshold discriminates on this corpus
  }

  test("containment: identical docs contain each other; a strict subset " +
    "contains one-way; Jaccard misses what containment catches") {
    val base = "a b c d e f g h i j k l m n o p q r s t"
    val corpus = Seq(
      1L -> base,                       // 18 3-shingles
      2L -> base,                       // identical twin
      3L -> (base + " u v w x y z " + // 1 embedded in a LONGER page
        "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr"),
      4L -> "zz yy xx ww vv uu").toDF("doc_id", "text")
    val got = Dedup.containment(corpus, 0.8)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 1.0 && got((2L, 1L)) === 1.0)
    assert(got((1L, 3L)) === 1.0) // 1's shingles all inside 3
    assert(!got.contains((3L, 1L)), "long page is NOT contained in the quote")
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // the same subset pair is INVISIBLE to symmetric Jaccard at 0.8
    val jacc = Dedup.ngramJaccard(corpus, 0.8)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(!jacc.contains((1L, 3L)) && !jacc.contains((3L, 1L)))
  }

  test("containment hot-shingle cap collapses a boilerplate corpus's " +
    "candidate pairs and renormalizes the denominator") {
    // every doc shares one boilerplate sentence (a stop-shingle corpus:
    // its shingles appear in ALL docs); unique tails differ entirely
    val boiler = "subscribe to our newsletter for updates today"
    val corpus = (1L to 8L).map(i =>
        i -> (boiler + s" tail$i word${i}a word${i}b word${i}c"))
      .toDF("doc_id", "text")
    // uncapped: boilerplate shingles make EVERY ordered pair a
    // candidate, and each passes (shared boiler ≈ most of each doc)
    val uncapped = Dedup.containment(corpus, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(uncapped.length === 8 * 7,
      "uncapped boilerplate corpus should produce all ordered pairs")
    // capped at df<=4: the in-all-8-docs boiler shingles drop out of
    // the candidate join, the denominator becomes the FILTERED count,
    // and the unique tails share nothing ⇒ zero pairs
    val capped = Dedup.containment(corpus, 0.5, maxShingleDocFreq = 4L)
      .as[(Long, Long, Double)].collect()
    assert(capped.isEmpty,
      s"capped run should collapse candidates, got ${capped.length}")
    // cap above the corpus df is a no-op: exact semantics preserved
    val loose = Dedup.containment(corpus, 0.5, maxShingleDocFreq = 100L)
      .as[(Long, Long, Double)].collect().toSet
    assert(loose === uncapped.toSet)
  }

  test("line dedup: keep-first survives exactly once per repeated block " +
    "and kept_tokens conserves") {
    val rows = SparkEntry.queries("llm_line_dedup")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nb, nd, kept) =>
      assert(nd >= 0 && nd <= nb, s"doc $id dropped more blocks than it has")
      assert(kept >= 0, s"doc $id negative kept tokens")
    }
    assert(rows.map(_._3).sum > 0, "corpus duplicates should drop blocks")
    // conservation: kept_tokens + dropped-block tokens == total tokens.
    // Recompute totals independently from the corpus.
    val totals = docs
      .select($"doc_id", size(split(trim($"text"), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val keptTotal = rows.map(_._4).sum
    assert(keptTotal < totals.values.sum) // something was dropped
    assert(keptTotal > totals.values.sum / 2) // but not most of the corpus
  }

  test("cluster sample: at most k per cluster, deterministic, and drawn " +
    "from the cluster's own members") {
    val a = SparkEntry.queries("llm_cluster_sample")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val b = SparkEntry.queries("llm_cluster_sample")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(a.toSeq === b.toSeq, "hash-coin sampling must be deterministic")
    a.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.length <= 5, s"cluster $c over quota")
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq,
        s"cluster $c ranks not contiguous")
    }
    // members actually belong to the cluster they were sampled from
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.kmeansCentroids(emb, stride = 40, iters = 2)
    val assign = Similarity.ivfIndex(emb, cents)
      .select($"nb_id", $"cent_id").as[(Long, Long)].collect().toMap
    a.foreach { case (c, _, v) => assert(assign(v) === c) }
  }
}
