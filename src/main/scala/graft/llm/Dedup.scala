package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps._

/** Document deduplication suite (builder-prompt north-star).
  *
  * Scale design (100 TB corpus): the only all-pairs computation allowed
  * is *within candidate buckets*. Exact dedup is one hash-groupBy;
  * MinHash-LSH and SimHash produce band/chunk buckets so the candidate
  * join is bucket-local (shuffle keyed by band value — uniform by
  * construction since the keys are hashes); the exact-Jaccard verify
  * runs only on candidates. The brute-force n-gram path here doubles as
  * the verifier and as the small-corpus oracle-checkable baseline.
  */
object Dedup {

  /** Exact dedup after normalization: aggregate (min id, count) per
    * content hash, then join the ids back — no per-group array, so a
    * pathological group (billions of identical docs) never materializes
    * on one row. Two hash shuffles on the same key. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol),
      md5(lower(trim(col(textCol)))).as("norm_hash"))
    val groups = hashed.groupBy(col("norm_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("group_size"))
    hashed.join(groups, Seq("norm_hash"))
      .select(col(idCol), col("kept_id"), col("group_size"))
  }

  /** Incremental exact dedup — the daily-ingest path: a NEW batch is
    * admitted against an EXISTING corpus without recomputing anything
    * over the corpus beyond its normalized hashes. Within-batch
    * duplicates keep the smallest id; batch docs whose hash already
    * exists in the corpus are rejected. At 100 TB the corpus side is a
    * precomputed one-column hash index (bucketable by hash), and the
    * anti-join moves only batch-sized data — the corpus never
    * re-shuffles for an ingest. */
  def incrementalExact(corpus: DataFrame, batch: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    def hashed(df: DataFrame) = df.select(col(idCol),
      md5(lower(trim(col(textCol)))).as("norm_hash"))
    hashed(batch)
      .groupBy(col("norm_hash")).agg(min(col(idCol)).as(idCol))
      .join(hashed(corpus).select(col("norm_hash")), Seq("norm_hash"), "left_anti")
      .select(col(idCol))
  }

  /** Exact duplicated-SPAN detection (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", at k-token-gram
    * granularity): mark every token position whose k-gram window occurs
    * ≥2 times in the WHOLE corpus (within- or cross-document — boiler-
    * plate, licenses, templated headers), and score each document by
    * the fraction of its tokens covered by some duplicated window.
    *
    * Scale shape: positions hash per-row (one transform over the token
    * array, no shuffle); the ONE full-data shuffle keys k-gram hashes —
    * uniform by construction — to count corpus occurrences; duplicated
    * positions join back on the same key (a bloom-filtered semi-join at
    * 100 TB); per-doc interval-union coverage is a sorted fold over the
    * doc's OWN duplicated starts (bounded by its token count, the same
    * bound the text column already carries) — never an explode of
    * covered positions. Hashes are the engine-portable md5 sharedHash,
    * so the DuckDB oracle reproduces every count bit-for-bit. */
  def dupSpans(docs: DataFrame, k: Int = 8,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val grams = gramPositions(docs, k, idCol, textCol)
    val dupHashes = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
    spanReport(docs, grams.join(dupHashes.select("gh"), Seq("gh")),
      k, idCol, textCol)
  }

  /** The persistable standing index behind [[dupSpansIncremental]]:
    * corpus-wide k-gram occurrence counts keyed by the engine-portable
    * gram hash. Built ONCE per corpus generation (one uniform-key
    * shuffle), stored bucketed by `gh`, and incremented by ingest
    * batches' own gram counts — the corpus text never re-tokenizes. */
  def gramIndex(docs: DataFrame, k: Int = 8,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    gramPositions(docs, k, idCol, textCol)
      .groupBy(col("gh")).agg(count(lit(1)).as("occ"))

  /** Incremental duplicated-span scoring — the daily-ingest path of
    * [[dupSpans]]: a NEW batch is scored against the standing
    * [[gramIndex]] without re-reading the corpus. A batch position is
    * duplicated when its gram's corpus count plus the batch's own
    * count reaches 2, which makes the result IDENTICAL to a full
    * [[dupSpans]] over corpus∪batch restricted to batch docs (spec-
    * pinned). Only batch-sized data shuffles; the index join keys the
    * batch's distinct gram hashes (broadcast-sized against 100 TB). */
  def dupSpansIncremental(index: DataFrame, batch: DataFrame, k: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val grams = gramPositions(batch, k, idCol, textCol)
    val totals = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("batch_occ"))
      .join(index.withColumnRenamed("occ", "corpus_occ"), Seq("gh"), "left")
      .filter(col("batch_occ") + coalesce(col("corpus_occ"), lit(0L)) >= 2)
    spanReport(batch, grams.join(totals.select("gh"), Seq("gh")),
      k, idCol, textCol)
  }

  /** Per-position k-gram hashes of a document set (no shuffle). */
  private def gramPositions(docs: DataFrame, k: Int,
                            idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), words(col(textCol)).as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") >= k)
      .withColumn("g", transform(
        sequence(lit(1), col("n") - (k - 1)),
        i => struct(i.cast("long").as("pos"),
          sharedHash(concat_ws(" ",
            (0 until k).map(o => element_at(col("w"), i + o)): _*))
            .as("gh"))))
      .select(col(idCol), explode(col("g")).as("pg"))
      .select(col(idCol), col("pg.pos"), col("pg.gh"))

  /** Fold duplicated starts into the per-doc coverage report. */
  private def spanReport(docs: DataFrame, dupPos: DataFrame, k: Int,
                         idCol: String, textCol: String): DataFrame = {
    val dupStats = dupPos
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup"),
        sort_array(collect_list(col("pos"))).as("starts"))
      .withColumn("state", aggregate(col("starts"),
        struct(lit(0L).as("cov"), lit(0L).as("end")),
        (acc, s) => struct(
          (acc("cov") + when(s > acc("end"), lit(k.toLong))
            .otherwise(s + lit(k - 1) - acc("end"))).as("cov"),
          (s + lit(k - 1)).as("end"))))
      .select(col(idCol), col("n_dup"), col("state.cov").as("covered"))
    docs.select(col(idCol), words(col(textCol)).as("w"))
      .withColumn("n", size(col("w"))).filter(col("n") >= k)
      .select(col(idCol), col("n").cast("long").as("n_tokens"))
      .join(dupStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(coalesce(col("covered"), lit(0L)) * lit(1.0) / col("n_tokens"),
          6).as("dup_ratio"))
  }

  /** Benchmark-contamination detection: corpus documents sharing at
    * least `minCommon` distinct word-k-gram shingles with any document
    * of a benchmark set (eval leakage scan). The benchmark side is
    * explicitly broadcast — a bench suite is KBs-to-MBs against a
    * 100 TB corpus, so the corpus side never shuffles and the overlap
    * count reduces map-side per (corpus doc, bench doc). */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    minCommon: Long = 5, k: Int = 3): DataFrame = {
    val cs = docShingles(corpus, k)
    val bs = docShingles(bench, k).withColumnRenamed("doc_id", "bench_id")
    cs.join(broadcast(bs), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
  }

  /** Single-file sources arrive as one input partition (one row group);
    * hashing/shingling is CPU-bound per row, so fan the rows out across
    * the executors before the heavy projection. Conditional and
    * plan-cheap — see [[Fanout]]. */
  private def spread(df: DataFrame): DataFrame = Fanout.spread(df)

  /** Materialization barrier: computes `result` once (so the cached
    * intermediates actually pay off), then frees them — callers get a
    * lineage-free DataFrame and the session keeps no leaked blocks from
    * this job (the barrier's own blocks are the bounded result set). */
  private def barrier(result: DataFrame, temps: DataFrame*): DataFrame = {
    val out = graft.Materialize.cut(result)
    temps.foreach(_.unpersist(false))
    out
  }

  /** Distinct (doc, shingle) pairs. */
  def docShingles(docs: DataFrame, k: Int = 3): DataFrame =
    spread(docs).select(col("doc_id"),
      explode(shingles(words(col("text")), k)).as("s"))

  /** The shingle side both shingle-join pair finders build: the cached
    * per-doc distinct-shingle arrays `arr` (unpersist after use), the
    * exploded (doc_id, s) rows minus stop-shingles `sh`, and the per-doc
    * shingle count `cnt` (doc_id, n) the similarity divides by. A
    * shingle in more than `maxShingleDocFreq` documents is a
    * stop-shingle (0 = off, exact semantics). */
  private def shingleSide(docs: DataFrame, k: Int, maxShingleDocFreq: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val arr = spread(docs)
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .cache()
    val all = arr.select(col("doc_id"), explode(col("sh")).as("s"))
    val sh =
      if (maxShingleDocFreq <= 0) all
      else {
        val hot = all.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDocFreq).select(col("s"))
        all.join(hot, Seq("s"), "left_anti").cache()
      }
    // exact path: per-doc count = array size (no shuffle aggregate);
    // hot-filtered path: must count the FILTERED shingles
    val cnt =
      if (maxShingleDocFreq <= 0)
        arr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      else sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    (arr, sh, cnt)
  }

  /** Near-SUBSET duplicate pairs by n-gram CONTAINMENT,
    * C(a → b) = |sh(a) ∩ sh(b)| / |sh(a)| — the quote/benchmark-leak
    * detector where Jaccard goes blind: a 50-word passage copied into
    * a 5000-word page has Jaccard ≈ 1% but containment ≈ 100%.
    * Asymmetric by construction, so the output is the DIRECTED pair
    * (contained da, container db). Same inverted-shingle-join scale
    * shape as [[ngramJaccard]]: candidates = Σ shingle-df², never n²,
    * and the same hot-shingle cap applies when a corpus needs it.
    *
    * `maxShingleDocFreq`: shingles in more than this many documents
    * ("stop-shingles" — boilerplate headers, license blurbs) are
    * excluded from the candidate join, collapsing the df² fan-out; the
    * denominator |sh(a)| is then the FILTERED shingle count, so a doc
    * made entirely of boilerplate contributes no pairs rather than a
    * divide-by-inflated-na. 0 = off (exact semantics, the
    * oracle-checked default). */
  def containment(docs: DataFrame, threshold: Double,
                  k: Int = 3, maxShingleDocFreq: Long = 0L): DataFrame = {
    val (arr, sh, cnt) = shingleSide(docs, k, maxShingleDocFreq)
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .withColumn("cont", col("common") / col("na"))
      .filter(col("cont") >= threshold)
      .select(col("da"), col("db"), round(col("cont"), 6).as("cont"))
    barrier(pairs, arr, sh)
  }

  /** Exact n-gram Jaccard similar pairs (shingle-join; at scale run it
    * on LSH candidates only — see `minHashLsh`).
    *
    * `maxShingleDocFreq`: a shingle appearing in more than this many
    * documents ("stop-shingle") is excluded from the candidate join —
    * at corpus scale hot shingles dominate join fan-out quadratically
    * while contributing almost nothing to high-Jaccard pairs. 0 = off
    * (exact semantics, the oracle-checked default). */
  def ngramJaccard(docs: DataFrame, threshold: Double, k: Int = 3,
                   maxShingleDocFreq: Long = 0L): DataFrame = {
    val (arr, sh, cnt) = shingleSide(docs, k, maxShingleDocFreq)
    val common = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    val pairs = common
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jacc", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jacc") >= threshold)
      .select(col("da"), col("db"), round(col("jacc"), 6).as("jacc"))
    barrier(pairs, arr, sh)
  }

  /** MinHash signatures, computed entirely inside one codegen'd
    * projection: one md5 per shingle (h0), then numHashes derived hash
    * functions h_i = (h0·(2i+1) + i·999983) mod P, min-reduced over the
    * document's shingle array. No explode, no shuffle — the per-doc
    * work is array math, which is exactly what survives a 100 TB corpus
    * (signature building is embarrassingly row-local). Values are
    * identical to the group-min formulation the DuckDB oracle runs. */
  def minHashSignatures(docs: DataFrame, numHashes: Int, k: Int = 3): DataFrame = {
    val P = 1000000007L
    graft.functions.GraftExpressions.register(docs.sparkSession)
    spread(docs).select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .withColumn("harr", transform(col("sh"), s => pmod(sharedHash(s), lit(P))))
      .select(col("doc_id"),
        expr(s"graft_minhash_sig(harr, $numHashes)").as("sig"))
  }

  /** MinHash + LSH banding: candidates share a band bucket; verified by
    * exact Jaccard ≥ threshold. bands×rowsPerBand = numHashes.
    *
    * `maxBucketSize`: band buckets holding more than this many docs are
    * skipped (0 = off). A degenerate bucket (e.g. boilerplate-heavy
    * corpora) would otherwise cost |bucket|² in the candidate join;
    * capping trades recall on exactly those low-signal collisions for
    * bounded work — the standard LSH-at-scale guardrail. */
  def minHashLsh(docs: DataFrame, threshold: Double,
                 bands: Int = 4, rowsPerBand: Int = 4, k: Int = 3,
                 maxBucketSize: Long = 0L): DataFrame = {
    val arr = spread(docs)
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .cache()
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("s"))
    // cache() is load-bearing: without it Catalyst's CollapseProject
    // inlines the signature expression into every band/join branch and
    // recomputes shingles+md5 per hash index per side.
    val sig = minHashSignatures(docs, bands * rowsPerBand, k).cache()
    val banded0 = sig.withColumn("b", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bucket",
        concat_ws(",", slice(col("sig"), col("b") * rowsPerBand + 1, lit(rowsPerBand))))
    val banded = (if (maxBucketSize <= 0) banded0 else {
      val hot = banded0.groupBy(col("b"), col("bucket"))
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
        .select(col("b"), col("bucket"))
      banded0.join(hot, Seq("b", "bucket"), "left_anti")
    }).cache()
    val cand = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
    // verify candidates with exact Jaccard (candidate-local, not all-pairs)
    // per-doc shingle count = SIZE of the distinct-shingle array — a
    // per-row projection off the cache, not a shuffle aggregate
    val cnt = arr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val common = cand.join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("common"))
    val pairs = common
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jacc", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jacc") >= threshold)
      .select(col("da"), col("db"), round(col("jacc"), 6).as("jacc"))
    barrier(pairs, arr, sig, banded)
  }

  /** The persistable LSH index of a corpus: one row per (doc, band)
    * with the band's bucket key. At 100 TB this is what lives on disk
    * between ingests (bucketed by `bucket` for co-located probe joins);
    * building it is signature math, embarrassingly row-local. */
  def minHashBandIndex(docs: DataFrame, bands: Int = 4,
                       rowsPerBand: Int = 4, k: Int = 3): DataFrame =
    minHashSignatures(docs, bands * rowsPerBand, k)
      .withColumn("b", explode(sequence(lit(0), lit(bands - 1))))
      .select(col("doc_id"), col("b"),
        concat_ws(",",
          slice(col("sig"), col("b") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("bucket"))

  /** Incremental NEAR-dup — [[incrementalExact]]'s minhash sibling, the
    * daily-ingest path for fuzzy duplicates: a NEW batch is probed
    * against an EXISTING corpus through its precomputed band index.
    * Only batch-sized data is signed and shuffled; the corpus
    * contributes (a) an index equi-join on (band, bucket) and (b) the
    * text of just the docs that collide (semi-join before shingling),
    * so the corpus never re-signs and never re-shuffles for an ingest.
    * Returns verified pairs `(da = corpus doc, db = batch doc, jacc)`
    * with exact Jaccard ≥ threshold; callers anti-join `db` to admit. */
  def minHashLshIncremental(corpus: DataFrame, corpusIndex: DataFrame,
                            batch: DataFrame, threshold: Double,
                            bands: Int = 4, rowsPerBand: Int = 4,
                            k: Int = 3): DataFrame = {
    val bIdx = minHashBandIndex(batch, bands, rowsPerBand, k)
    val cand = corpusIndex
      .select(col("doc_id").as("da"), col("b"), col("bucket"))
      .join(bIdx.select(col("doc_id").as("db"), col("b"), col("bucket")),
        Seq("b", "bucket"))
      .select(col("da"), col("db")).distinct().cache()
    // exact verify: shingle ONLY the implicated corpus docs + the batch;
    // per-doc counts come from the cached arrays' SIZE (no shuffle agg)
    val arrC = spread(
      corpus.join(cand.select(col("da").as("doc_id")), Seq("doc_id"),
        "left_semi"))
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .cache()
    val arrB = spread(batch)
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .cache()
    val shc = arrC.select(col("doc_id"), explode(col("sh")).as("s"))
    val shb = arrB.select(col("doc_id"), explode(col("sh")).as("s"))
    val common = cand
      .join(shc.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(shb.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("common"))
    val pairs = common
      .join(arrC.select(col("doc_id").as("da"),
        size(col("sh")).cast("long").as("na")), Seq("da"))
      .join(arrB.select(col("doc_id").as("db"),
        size(col("sh")).cast("long").as("nb")), Seq("db"))
      .withColumn("jacc", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jacc") >= threshold)
      .select(col("da"), col("db"), round(col("jacc"), 6).as("jacc"))
    barrier(pairs, cand, arrC, arrB)
  }

  /** Dedup CLUSTERS from near-dup pairs: what a pipeline actually acts
    * on is not the pair list but a cluster id per document (keep one
    * representative per cluster, drop the rest). Connected components
    * over the pair graph; each document's cluster id is the smallest
    * doc id in its component, and docs in no pair get
    * `cluster = doc_id` by the final left join.
    *
    * Scale shape: ONE job collects the pair edges with `limit(cap + 1)`,
    * which both bounds driver memory and answers the over-cap question.
    * At or under `cap` edges an exact driver union-find labels the
    * pair vertices — independent of component diameter — and the
    * labels broadcast-join back to `docs` (the same
    * collect-under-cap-else-distributed discipline as the a13 cutoff,
    * graph/GraphOps.scala). The pair graph is the near-dup graph,
    * orders of magnitude smaller than the corpus. Over `cap` it runs
    * star contraction ([[graft.graph.GraphOps.connectedComponentsStar]]:
    * O(log² n) rounds on any diameter). */
  def clusters(docs: DataFrame, pairs: DataFrame,
               cap: Int = 2000000): DataFrame = {
    // duplicate/undirected edges need no distinct — union-find is
    // idempotent over them
    val edges = pairs.select(col("da").as("v"), col("db").as("w"))
      .limit(cap + 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels =
      if (edges.length > cap)
        graft.graph.GraphOps.connectedComponentsStar(
            pairs.select(col("da").as("src"), col("db").as("dst")))
          .select(col("vertex").as("doc_id"), col("cluster").as("label"))
      else {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nx = parent.getOrElse(c, c); parent(c) = r; c = nx
          }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val verts = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
        val lab = verts.iterator.map(v => (v, find(v))).toSeq
        import docs.sparkSession.implicits._
        broadcast(docs.sparkSession.createDataset(lab).toDF("doc_id", "label"))
      }
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
      .withColumn("keep", (col("cluster") === col("doc_id")).cast("boolean"))
  }

  /** Incremental CLUSTER ASSIGNMENT of an ingest batch against a
    * standing corpus — the missing piece between the incremental pair
    * probe ([[minHashLshIncremental]]) and the batch components
    * ([[clusters]]): a pipeline at 100 TB re-clusters neither the
    * corpus nor its labels on ingest.
    *
    * Contract (deterministic, and what makes the oracle expressible):
    * standing corpus labels NEVER change; a batch doc's cluster is the
    * minimum over its batch-local component of (member doc ids ∪ the
    * corpus cluster labels its members matched). Two standing clusters
    * bridged by a new doc are NOT retroactively merged — that is the
    * documented incremental tradeoff, repaired at the next full
    * clustering, exactly like a segment-merge in an LSM tree.
    *
    * Scale shape: the corpus contributes only its band index (the
    * equi-join probe) and the text of colliding docs; batch-local LSH +
    * components run over batch-sized data; labels join once. */
  def clustersIncremental(corpus: DataFrame, corpusLabels: DataFrame,
                          corpusIndex: DataFrame, batch: DataFrame,
                          threshold: Double, bands: Int = 4,
                          rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    // the batch is signed and shingled ONCE; batch-batch and
    // corpus-batch candidates come out of ONE band-bucket probe: the
    // `da` side is the union of the standing index and the batch index
    // (disjoint doc ids by contract), the `db` side is the batch index
    // — so corpus×corpus pairs never form, and one distinct covers both
    // candidate families (each micro-batch is fixed-overhead-bound, so
    // every stage removed is wall-clock at ingest)
    val bIdx = minHashBandIndex(batch, bands, rowsPerBand, k).cache()
    val daIdx = bIdx.select(col("doc_id").as("da"), col("b"), col("bucket"),
        lit(true).as("nn"))
      .unionByName(corpusIndex.select(col("doc_id").as("da"), col("b"),
        col("bucket"), lit(false).as("nn")))
    val cand = daIdx
      .join(bIdx.select(col("doc_id").as("db"), col("b"), col("bucket")),
        Seq("b", "bucket"))
      .filter(!col("nn") || col("da") < col("db"))
      .select(col("da"), col("db"), col("nn")).distinct().cache()
    val arrB = spread(batch)
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
      .cache()
    val shb = arrB.select(col("doc_id"), explode(col("sh")).as("s"))
    // the corpus contributes only the text of colliding docs
    val arrC = spread(corpus.join(
      cand.filter(!col("nn")).select(col("da").as("doc_id")),
      Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), shingles(words(col("text")), k).as("sh"))
    val arrDa = arrB.unionByName(arrC).cache() // the `da` side spans both
    val shda = arrDa.select(col("doc_id"), explode(col("sh")).as("s"))
    val common = cand
      .join(shda.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(shb.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db"), col("nn"))
      .agg(count(lit(1)).as("common"))
    // per-doc shingle count is the SIZE of the (distinct) shingle
    // array — a per-row projection off the cached arrays, not a
    // shuffle aggregate over the exploded rows
    val sizes = arrDa.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val pairs = common
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .filter(col("common") / (col("na") + col("nb") - col("common"))
        >= threshold)
      .select(col("da"), col("db"), col("nn"))
    // lazy cache, not an eager barrier: the whole verify pipeline
    // materializes as part of the components' edge collect (one fewer
    // synchronous round-trip — these batch-sized stages are fixed-
    // overhead-bound), and the nc leg then reads the cache
    val verified = pairs.cache()
    // batch-local components over a trigger-sized pair graph
    val comp = clusters(batch, verified.filter(col("nn")))
      .select(col("doc_id"), col("cluster").as("comp"))
    val seeds = verified.filter(!col("nn"))
      .join(corpusLabels.select(col("doc_id").as("da"),
        col("cluster").as("corp_cluster")), Seq("da"))
      .groupBy(col("db").as("doc_id"))
      .agg(min(col("corp_cluster")).as("seed"))
    val compLabel = comp.join(seeds, Seq("doc_id"), "left_outer")
      .groupBy(col("comp")).agg(min(col("seed")).as("comp_seed"))
      .select(col("comp"),
        when(col("comp_seed").isNull, col("comp"))
          .otherwise(least(col("comp_seed"), col("comp"))).as("cluster"))
    val out = barrier(
      comp.join(compLabel, "comp")
        .select(col("doc_id"), col("cluster"),
          (col("cluster") === col("doc_id")).cast("long").as("keep")),
      bIdx, cand, arrB, arrDa, verified)
    out
  }

  /** Quality-aware keeper election over PRECOMPUTED cluster labels —
    * the library seam pipeline users compose with [[clusters]] so the
    * LSH pass and the components run ONCE per corpus, not once per
    * downstream policy (llm_dedup_clusters and llm_dedup_keep_best are
    * both one call deep from here). `clusterLabels` is (doc_id,
    * cluster) — persist/checkpoint it to share physically. Election is
    * one partial-agg'd max(struct(quality, -doc_id)) per cluster plus a
    * cluster-keyed join-back — never a per-cluster window. Quality =
    * lexical diversity (distinct-word ratio) rounded at 6 dp with the
    * doc_id tie-break, so the winner is engine-portable. */
  def keepBest(docs: DataFrame, clusterLabels: DataFrame): DataFrame = {
    val q = docs.select(col("doc_id"),
      round(size(array_distinct(words(col("text")))) * 1.0
        / size(words(col("text"))), 6).as("quality"))
    val full = clusterLabels.select(col("doc_id"), col("cluster"))
      .join(q, "doc_id")
    val best = full.groupBy(col("cluster"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster"), (-col("b.nid")).as("best_doc"))
    full.join(best, "cluster")
      .select(col("doc_id"), col("cluster"), col("quality"),
        (col("doc_id") === col("best_doc")).cast("long").as("keep"))
  }

  /** 60-bit SimHash over the document's distinct words — word hashes
    * via one md5 each, then a single native pass builds the signature
    * (GraftExpressions.SimHashSig); no explode, no shuffle. */
  def simHashSignatures(docs: DataFrame, bits: Int = 60): DataFrame = {
    graft.functions.GraftExpressions.register(docs.sparkSession)
    spread(docs).select(col("doc_id"),
        transform(array_distinct(words(col("text"))), w => sharedHash(w))
          .as("hs"))
      .select(col("doc_id"), expr(s"graft_simhash_sig(hs, $bits)").as("sig"))
  }

  /** SimHash near-dup pairs: hamming(sig) ≤ maxDist, candidates via the
    * pigeonhole chunk trick (maxDist+1 chunks — one must match). */
  def simHashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1 // 4 chunks of 15 bits over 60
    val sigs = simHashSignatures(docs)
    val chunked = sigs.withColumn("c", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("chunk", expr("(sig >> (15 * c)) & 32767"))
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        expr("bit_count(x.sig ^ y.sig)").cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= maxDist)
  }
}
