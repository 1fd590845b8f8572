package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import TextOps._

/** Training-data-pipeline operator queries (builder-prompt north-star):
  * dedup (exact/incremental/MinHash-LSH/SimHash/n-gram/embedding +
  * cluster assignment), ANN (brute-force/LSH/IVF + incremental probe),
  * text analysis (lang-id, quality, tokens, vocab, tf-idf, fingerprint,
  * PII scrub, sequence packing), stratified sampling, contamination
  * scan, multimodal, and the composed corpus pipeline — every one
  * oracle-checked (the MinHash/SimHash hash functions are md5-derived
  * specifically so DuckDB reproduces them bit-for-bit).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  private val SHARED_HASH_SQL = "('0x'||substr(md5(%s),1,15))::BIGINT"

  // shingle positions derive from each document's own word count (no
  // fixed positional cap that a longer corpus could silently outgrow —
  // the llm_dsir_sample advice applied corpus-wide)
  private val DOC_CTE =
    """WITH wt AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |            FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, len(w) - 2)) AS i
      |             FROM wt)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
      |""".stripMargin

  /** Near-dup cluster labels (doc_id, cluster) MATERIALIZED once per
    * dataset — the physical form of the clusters→policies composition:
    * the LSH pass and components run once, every downstream policy
    * (keep-best here; splits/leakage audits in a real pipeline) reads
    * the labels. llm_dedup_clusters keeps computing them live — the
    * components ARE its operator under test. Marker = dataset +
    * recipe version; mismatch rebuilds (same discipline as
    * GraphQueries.pairs2 and the s10/m11 KV setup). */
  private def clusterLabels(s: SparkSession, d: String): DataFrame = {
    // per-dataset path — see GraphQueries.pairs2: bench alternates
    // warmup and timed datasets per query. BUCKETED by doc_id — the
    // key keepBest joins the per-doc quality scores on — so the label
    // side plans against the storage partitioning; tag fingerprints
    // the source documents files (staleness discipline).
    val slug = graft.Staging.slug(d)
    graft.Staging.ensureBucketed(s, s"graft_cluster_labels_$slug",
      graft.RepoPaths.target(s"graft_llm/cluster_labels_$slug"),
      buckets = 32, clusterCols = Seq("doc_id"),
      tag = s"clusters v2 $d fp=${
        graft.Staging.fingerprint(s"$d/documents.parquet")}") {
      val docs = Tables.documents(s, d)
      Dedup.clusters(docs, Dedup.minHashLsh(docs, 0.8))
        .select(col("doc_id"), col("cluster"))
    }
  }

  /** The standing dedup state an ingest pipeline keeps warm: the
    * corpus split's cluster labels AND its minhash band index,
    * materialized once per dataset (the persisted artifacts every
    * incremental batch probes — `llm_dedup_clusters_incr` measures one
    * batch; `st8_cluster_ingest` streams batches against this).
    * Returns (corpus, labels, bandIndex) with the latter two read from
    * parquet. */
  private[graft] def standingDedupState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // FLAT (not bucketed), deliberately: the band index enters the
    // incremental probe join UNDER A UNION with the batch's own index
    // (Dedup.clustersIncremental's one-probe contract — batch-batch
    // and corpus-batch candidates from a single band-bucket join), and
    // a union forfeits any storage-partitioning credit; the labels are
    // consumed only after semi-join pruning to the colliding docs.
    // Both reads stay trigger-bound, so bucketing would buy nothing
    // until the probe join is split per leg (the g16 refactor — not
    // worth its complexity at per-batch scale).
    val path = graft.RepoPaths
      .target(s"graft_llm/standing_${graft.Staging.slug(d)}")
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    graft.Staging.ensureFlat(path, s"standing v2 $d fp=${
        graft.Staging.fingerprint(s"$d/documents.parquet")}") {
      Dedup.clusters(corpus, Dedup.minHashLsh(corpus, 0.8))
        .select(col("doc_id"), col("cluster"))
        .write.mode("overwrite").parquet(s"$path/labels")
      Dedup.minHashBandIndex(corpus)
        .write.mode("overwrite").parquet(s"$path/index")
    }
    (corpus, Tables.parquet(s, s"$path/labels"),
      Tables.parquet(s, s"$path/index"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: corpus = documents ∪ an uppercased copy whose ids
    // shift by max(doc_id)+1 — derived from the corpus itself, so the
    // synthetic namespace stays disjoint at ANY corpus size (a fixed
    // +offset would silently collide past it) while kept_id = min
    // still picks the ORIGINAL of each pair. The offset is a scalar
    // agg collect (one number to the driver), same class as the BPE
    // winner pick.
    "llm_dedup_exact" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val off = docs.agg(max($"doc_id")).head.getLong(0) + 1L
      val corpus = docs.unionByName(
        docs.select(($"doc_id" + off).as("doc_id"), upper($"text").as("text")))
      Dedup.exact(corpus).orderBy($"doc_id")
    }),

    // Exact word-3-gram Jaccard pairs ≥ 0.8 (shingle join).
    "llm_dedup_ngram" -> ((s, d) => {
      import s.implicits._
      Dedup.ngramJaccard(Tables.documents(s, d), 0.8).orderBy($"da", $"db")
    }),

    // Directed n-gram CONTAINMENT pairs ≥ 0.8 — near-subset detection
    // (quotes, benchmark leakage into long pages) where symmetric
    // Jaccard goes blind; see Dedup.containment.
    "llm_containment" -> ((s, d) => {
      import s.implicits._
      Dedup.containment(Tables.documents(s, d), 0.8).orderBy($"da", $"db")
    }),

    // MinHash(16) + LSH(4 bands × 4 rows) candidates, exact-Jaccard
    // verified ≥ 0.8 — the 100 TB-shaped path (bucket-local join).
    "llm_dedup_minhash" -> ((s, d) => {
      import s.implicits._
      Dedup.minHashLsh(Tables.documents(s, d), 0.8).orderBy($"da", $"db")
    }),

    // 60-bit SimHash, hamming ≤ 3, pigeonhole-chunk candidates.
    "llm_dedup_simhash" -> ((s, d) => {
      import s.implicits._
      Dedup.simHashPairs(Tables.documents(s, d), 3).orderBy($"da", $"db")
    }),

    // Incremental exact dedup — daily-ingest: batch (doc_id%5==0)
    // admitted against the standing corpus (the rest); only batch-sized
    // data moves.
    "llm_dedup_incr" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Dedup.incrementalExact(docs.filter($"doc_id" % 5 =!= 0),
        docs.filter($"doc_id" % 5 === 0)).orderBy($"doc_id")
    }),

    // Incremental NEAR-dup ingest: the batch (doc_id%5==0) probes the
    // corpus's precomputed minhash band index; only colliding corpus
    // docs are re-read for the exact-Jaccard verify (the corpus never
    // re-signs or re-shuffles per ingest).
    "llm_dedup_minhash_incr" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter($"doc_id" % 5 =!= 0)
      // the band index is the PERSISTED artifact (AnnStore: parquet
      // bucketed by the (b, bucket) probe key), so the candidate join
      // plans against its storage partitioning — no Exchange ever
      // touches the index side (PlanSpec pins it)
      Dedup.minHashLshIncremental(corpus,
          AnnStore.minHashBandIndex(s, d, corpus),
          docs.filter($"doc_id" % 5 === 0), 0.8)
        .orderBy($"da", $"db")
    }),

    // Incremental cluster assignment: an ingest batch (doc_id%5==0)
    // joins the standing corpus clusters WITHOUT re-clustering the
    // corpus — batch docs probe the persisted band index, batch-local
    // components form over batch-only pairs, and each component takes
    // the min of (member ids, matched corpus cluster labels). Standing
    // labels never change (bridges repair at the next full clustering —
    // the LSM-segment-merge tradeoff, documented in Dedup).
    "llm_dedup_clusters_incr" -> ((s, d) => {
      import s.implicits._
      val (corpus, labels, index) = standingDedupState(s, d)
      graft.GraftSession.withMicroBatchPlanning(s) {
        Dedup.clustersIncremental(corpus, labels, index,
          Tables.documents(s, d).filter($"doc_id" % 5 === 0), 0.8)
      }.orderBy($"doc_id")
    }),

    // Dedup clustering: connected components over the minhash-LSH pair
    // graph — cluster id per doc (min reachable doc_id) plus the keep
    // flag a pipeline filters on. The components are computed only over
    // docs appearing in some pair, never the whole corpus.
    "llm_dedup_clusters" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Dedup.clusters(docs, Dedup.minHashLsh(docs, 0.8))
        .select($"doc_id", $"cluster", $"keep".cast("long").as("keep"))
        .orderBy($"doc_id")
    }),

    // Quality-aware dedup: within each near-dup cluster keep the
    // HIGHEST-QUALITY document (lexical diversity score), not the
    // smallest id — the production dedup policy (C4 keeps one "best"
    // member per cluster). Scale shape: cluster labels come from the
    // pair graph (corpus never enters it); the keeper election is
    // a partial-agg'd max(struct(quality, -doc_id)) per cluster —
    // never a per-cluster window over the corpus; the 6-dp-rounded
    // score + id tie-break make the winner engine-portable.
    "llm_dedup_keep_best" -> ((s, d) => {
      import s.implicits._
      // Dedup.keepBest composes over PRECOMPUTED labels: the LSH pass +
      // components run once per corpus (materialized below, shared
      // with any other policy) and the registered query measures the
      // keeper ELECTION — the pipeline composition the library seam
      // exists for (DedupSpec pins the zero-re-derivation plan)
      Dedup.keepBest(Tables.documents(s, d), clusterLabels(s, d))
        .orderBy($"doc_id")
    }),

    // Deterministic stratified sample: per language, the 50 docs with
    // the smallest text hash — an unbiased, engine-agnostic balanced
    // subsample (training-mix construction). Two-phase top-k: a
    // per-(lang, salt) local rank first, so no reducer ever holds more
    // than 32·k rows of a stratum — a single window per language would
    // put a whole language (billions of rows at corpus scale) on one
    // task.
    "llm_stratified_sample" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = 50
      val h = Tables.documents(s, d)
        .select($"lang", $"doc_id", md5($"text").as("h"))
        .withColumn("salt", pmod(hash($"doc_id"), lit(32)))
      val w1 = Window.partitionBy($"lang", $"salt").orderBy($"h", $"doc_id")
      val local = h.withColumn("rn", row_number().over(w1))
        .filter($"rn" <= k).drop("rn", "salt")
      val w2 = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
      local.withColumn("rn", row_number().over(w2).cast("long"))
        .filter($"rn" <= k)
        .select($"lang", $"doc_id", $"rn")
        .orderBy($"lang", $"doc_id")
    }),

    // Quality-WEIGHTED Bernoulli sampling: each document is kept with
    // probability proportional to a quality weight (length-based here;
    // any per-mille score plugs in) — the training-mix lever between
    // uniform sampling (p8) and hard top-k (stratified). Deterministic
    // and engine-portable: the coin is the md5 hash fraction of the
    // doc id (same seed string both engines), the weight is an INTEGER
    // per-mille (no float sum crosses engines), and the keep decision
    // compares frac·1000 < w_pm — identical doubles on both sides.
    // Scale: embarrassingly parallel scan + partial-agg rollup; a
    // replay keeps exactly the same documents (reproducible corpus).
    "llm_weighted_sample" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"lang", $"doc_id",
          expr("least(length(text) DIV 2, 1000)").as("w_pm"))
        .withColumn("frac",
          TextOps.hashFrac(concat(lit("ws#"), $"doc_id".cast("string"))))
      docs.groupBy($"lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"frac" * 1000.0 < $"w_pm", 1L).otherwise(0L))
            .as("n_kept"),
          sum($"w_pm").as("w_pm_sum"))
        .orderBy($"lang")
    }),

    // DSIR data selection (Xie et al., NeurIPS 2023): hashed-n-gram
    // importance weights ln p̂_en/q̂_raw in exact integer micro-nats +
    // deterministic Gumbel top-k resample. Target model = the 'en'
    // slice, raw model = the whole corpus; both fit as ≤64-row
    // broadcast sketches, scoring is one feature explode + one
    // per-doc integer sum, selection is TakeOrderedAndProject.
    "llm_dsir_sample" -> ((s, d) => {
      import s.implicits._
      val B = 64
      val docs = Tables.documents(s, d)
      val fb = Dsir.bucketed(Dsir.features(docs, Seq("lang")), B)
      val lr = Dsir.logRatioMicros(fb, $"lang" === "en", B)
      Dsir.sample(Dsir.weights(fb, lr), k = 100)
    }),

    // Benchmark-contamination scan: corpus docs sharing ≥5 word-3-gram
    // shingles with the (broadcast) benchmark slice (doc_id%7==0 — a
    // modulus small enough that the synthetic corpus's near-dup pairs
    // straddle the split, so the correctness diff is non-vacuous at
    // test scale).
    "llm_contamination" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      Dedup.contamination(docs.filter($"doc_id" % 7 =!= 0),
          docs.filter($"doc_id" % 7 === 0))
        .orderBy($"doc_id", $"bench_id")
    }),

    // Embedding-cosine near-dup pairs ≥ 0.5 — multi-band sign-LSH
    // candidates (14 bands × 4 planes; cos 0.5 is a weak angular signal,
    // so recall needs many bands — real near-dup corpora at cos ≥ 0.9
    // get away with far fewer), exact-cosine verified. The brute-force
    // crossJoin form survives only as the test-suite verifier
    // (SimilaritySpec).
    "llm_dedup_embcos" -> ((s, d) => {
      import s.implicits._
      Similarity.lshCosinePairs(Tables.embeddings(s, d), 0.5, planes = 4,
        bands = 14).orderBy($"va", $"vb")
    }),

    // Brute-force cosine top-3 for the query subset (vec_id % 25 = 0).
    "llm_ann_topk" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter($"vec_id" % 25 === 0), 3)
        .orderBy($"query_id", $"rank")
    }),

    // Sign-LSH (4 hyperplanes) bucket-local top-2 — the ANN scale path.
    "llm_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter($"vec_id" % 25 === 0), 4, 2)
        .orderBy($"query_id", $"rank")
    }),

    // IVF ANN: stride-sampled centroids (vec_id%40==0), 1-probe base
    // assignment, 2-probe query search, bucket-local top-3 — the
    // data-adaptive ANN scale path (broadcast centroids, the corpus
    // shuffles once by centroid).
    "llm_ann_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter($"vec_id" % 25 === 0),
          stride = 40, k = 3, nprobe = 2)
        .orderBy($"query_id", $"rank")
    }),

    // PQ/ADC ANN (see Similarity.pqTopK): the corpus is compressed to
    // 4 centroid codes per vector; queries scan codes via a broadcast
    // distance table and only the 10-deep shortlist touches the float
    // vectors for the exact re-rank. The third ANN family next to the
    // data-independent LSH and the coarse-partition IVF.
    "llm_ann_pq" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter($"vec_id" % 25 === 0),
          stride = 10, k = 3)
        .orderBy($"query_id", $"rank")
    }),

    // Incremental PQ ANN: a NEW vector batch probes the standing
    // corpus's persisted codebook + codes — the corpus never
    // re-encodes for a query batch (the PQ leg of the incremental
    // triad: exact-hash, minhash band index, IVF assignment, PQ codes).
    "llm_ann_pq_incr" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter($"vec_id" % 25 =!= 0)
      val (codebook, codes) = Similarity.pqIndex(corpus, 10)
      Similarity.pqProbe(codebook, codes, corpus,
          emb.filter($"vec_id" % 25 === 0), k = 3)
        .orderBy($"query_id", $"rank")
    }),

    // Incremental IVF ANN: a NEW vector batch (vec_id%25==0) probes the
    // standing corpus's prebuilt centroid assignment — the corpus never
    // re-assigns for a query batch, only the batch crosses the wire
    // (the ANN sibling of llm_dedup_minhash_incr).
    "llm_ann_ivf_incr" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter($"vec_id" % 25 =!= 0)
      val cents = Similarity.ivfCentroids(corpus, 40)
      // index read from the PERSISTED cent_id-bucketed table
      // (AnnStore): the probe's bucket join shuffles only the query
      // batch; the corpus-sized index side plans Exchange-free
      Similarity.ivfProbe(cents, AnnStore.ivfIndex(s, d, corpus, cents),
          emb.filter($"vec_id" % 25 === 0), k = 3, nprobe = 2)
        .orderBy($"query_id", $"rank")
    }),

    // IVF ANN over k-means-REFINED centroids: the stride seed set goes
    // through two Lloyd rounds (broadcast-assign + per-dim mean —
    // Similarity.kmeansCentroids) before indexing/probing. Same probe
    // shape as llm_ann_ivf; the oracle replays both rounds in SQL, so
    // the refined path gets its own end-to-end correctness row.
    "llm_ann_ivf_kmeans" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, stride = 40, iters = 2)
      Similarity.ivfProbe(cents, Similarity.ivfIndex(emb, cents),
          emb.filter($"vec_id" % 25 === 0), k = 3, nprobe = 2)
        .orderBy($"query_id", $"rank")
    }),

    // Gopher quality rules (Rae et al. 2021, §A1.1): the published
    // rule-based document filter — word-count bounds, mean-word-length
    // band, alpha-word ratio, minimum stopword hits, symbol-to-word
    // ratio — reported per rule (so a pipeline can audit WHY a doc
    // fell) plus the conjunction. Pure per-row codegen'd expressions:
    // zero shuffle, scan-speed at any corpus size. Where
    // llm_text_quality SCORES, this one GATES with the paper's
    // thresholds (word count scaled to this corpus's 50-word median).
    // The clean synthetic corpus passes most gates, so the filter runs
    // over documents ∪ a CORRUPTED copy (symbol-spammed, de-cased) —
    // every rule rejects real rows, not vacuously.
    "llm_gopher_rules" -> ((s, d) => {
      import s.implicits._
      // corrupted ids live in the NEGATIVE namespace (-id-1), disjoint
      // from real doc_ids by construction at any corpus size — a fixed
      // +offset would silently collide once the corpus outgrew it
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val corrupted = Tables.documents(s, d).select(
        (-$"doc_id" - 1L).as("doc_id"),
        concat(lit("# # # # # # # # # # # # "), upper($"text")).as("text"))
      val corpus = docs.unionByName(corrupted)
      val w = words($"text")
      val nw = size(w).cast("long")
      val meanLen = aggregate(transform(w, x => length(x).cast("long")),
        lit(0L), _ + _) * 1.0 / nw
      val alphaWords = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
      val stopHits = size(filter(w,
        x => array_contains(array(EN_STOP.map(lit): _*), x))).cast("long")
      val symbols = size(filter(w,
        x => x.isin("#", "...") || x.startsWith("#"))).cast("long")
      def flag(c: org.apache.spark.sql.Column) =
        when(c, 1L).otherwise(0L)
      corpus.select(
          $"doc_id",
          flag(nw >= 10 && nw <= 1000).as("r_wordcount"),
          flag(meanLen >= 3.0 && meanLen <= 10.0).as("r_meanlen"),
          flag(alphaWords * 10L >= nw * 8L).as("r_alpha"),
          flag(stopHits >= 2L).as("r_stopwords"),
          flag(symbols * 10L <= nw).as("r_symbols"))
        .withColumn("pass",
          flag($"r_wordcount" + $"r_meanlen" + $"r_alpha"
            + $"r_stopwords" + $"r_symbols" === 5L))
        .orderBy($"doc_id")
    }),

    // Johnson–Lindenstrauss random projection (64 → 16 dims) with the
    // ±1 (Achlioptas 2003) scheme over the engine's deterministic
    // plane weights — the dimensionality-reduction front-end for any
    // downstream ANN/cluster pass (4× smaller vectors, distances
    // preserved within JL bounds — spec-pinned). Coordinates are
    // computed over INTEGER micro-unit inputs, so every projected
    // value is an exact 64-bit sum — associative, engine-portable,
    // hash-checkable. Pure per-row array math: zero shuffle, scan
    // speed at any corpus size.
    "llm_jl_project" -> ((s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
            .as("m"))
        .select($"vec_id", explode(sequence(lit(0L), lit(15L))).as("p"), $"m")
        .select($"vec_id", $"p", expr(
          """aggregate(
            |  transform(m, (x, j) ->
            |    CASE WHEN (shiftright(p * 2654435761 + CAST(j AS BIGINT)
            |                            * 40503, 7) & 1) = 1
            |         THEN x ELSE -x END),
            |  0L, (a, b) -> a + b)""".stripMargin).as("coord"))
        .orderBy($"vec_id", $"p")
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup = k-means cells +
    // within-cell cosine pruning, keep the id-minimal representative.
    // All-pairs work only inside cells (Σ cluster²); assignment and
    // refinement reuse the IVF k-means machinery. Oracle replicates
    // the full two-round Lloyd loop in SQL (KMEANS_CTE).
    "llm_semdedup" -> ((s, d) => {
      import s.implicits._
      Similarity.semDedup(Tables.embeddings(s, d),
          stride = 40, iters = 2, threshold = 0.30)
        .orderBy($"vec_id")
    }),

    // Language-ID by stopword scoring (alphabetical-first argmax).
    "llm_lang_id" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", langId(words($"text")).as("predicted"))
        .orderBy($"doc_id")
    }),

    // Quality scoring: token stats, stopword ratio, alpha ratio, score.
    "llm_text_quality" -> ((s, d) => {
      import s.implicits._
      val w = words($"text")
      val n = size(w).cast("long")
      val nuniq = size(array_distinct(w)).cast("long")
      val stopHits = size(filter(w,
        x => array_contains(array(EN_STOP.map(lit): _*), x))).cast("long")
      val letters = length(regexp_replace($"text", "[^a-z]", "")).cast("long")
      val stopRatio = stopHits * 1.0 / n
      val uniqRatio = nuniq * 1.0 / n
      Tables.documents(s, d).select(
        $"doc_id",
        n.as("n_tokens"),
        round(aggregate(transform(w, x => length(x).cast("long")), lit(0L), _ + _)
          * 1.0 / n, 6).as("avg_token_len"),
        round(stopRatio, 6).as("stop_ratio"),
        round(letters * 1.0 / length($"text"), 6).as("alpha_ratio"),
        round(lit(0.4) * least(lit(1.0), n / 50.0)
          + lit(0.3) * (lit(1.0) - stopRatio)
          + lit(0.3) * uniqRatio, 6).as("quality"))
        .orderBy($"doc_id")
    }),

    // Token counting: whitespace, regex word tokens, BPE-ish estimate.
    "llm_token_count" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        size(words($"text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z]+"), lit(0))).cast("long")
          .as("re_tokens"),
        ceil(length($"text") / 4.0).cast("long").as("bpe_est"))
        .orderBy($"doc_id")
    }),

    // Overlapping token-window chunking (window 32, stride 16) — the
    // op behind RAG/context-window corpus preparation. Pure per-row
    // array work (sequence → explode → slice): chunking 100 TB is
    // embarrassingly parallel, no shuffle until the presentation sort;
    // chunk identity is the engine-portable sharedHash of the joined
    // tokens, so chunks dedup/join across pipelines without carrying
    // the text.
    "llm_chunk_windows" -> ((s, d) => {
      import s.implicits._
      val window = 32
      val stride = 16
      Tables.documents(s, d)
        .select($"doc_id", words($"text").as("w"))
        .withColumn("n", size($"w"))
        .withColumn("start",
          explode(sequence(lit(1), greatest($"n", lit(1)), lit(stride))))
        .withColumn("chunk", slice($"w", $"start", lit(window)))
        .select($"doc_id",
          (($"start" - 1) / stride).cast("long").as("chunk_idx"),
          size($"chunk").cast("long").as("n_tokens"),
          sharedHash(concat_ws(" ", $"chunk")).as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // BPE merge learning (llm/Bpe.scala): 3 rounds of
    // count-pairs → pick-winner → greedy merge over the word-frequency
    // table. The corpus collapses to the vocab in ONE shuffle; each
    // round is a vocab-sized partial-agg'd pair count plus a
    // broadcast-as-literal per-row rewrite (the k-means/PageRank
    // iterate-with-broadcast-decision pattern). The space-owning string
    // encoding makes `replace` = greedy leftmost merge in both engines,
    // which is what finally made the oracle expressible.
    "llm_bpe_merges" -> ((s, d) => {
      import s.implicits._
      // batched learner: exact sequential-greedy merges, a fraction of
      // the driver round-trips (BpeSpec pins the equivalence)
      Bpe.learnBatched(s, Bpe.wordFreq(Tables.documents(s, d)), rounds = 3)
        .toDF().select($"round", $"lhs", $"rhs", $"cnt")
        .orderBy($"round")
    }),

    // BPE APPLY — the tokenize half of the tokenizer: encode the
    // word-frequency table with the 3 learned merges and report the
    // resulting subword vocabulary's top 20 tokens by corpus
    // frequency. The encode is a per-row fold of broadcast-literal
    // replaces (no shuffle beyond the word-freq build); at 100 TB the
    // corpus is tokenized in one embarrassingly parallel pass.
    "llm_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val words = Bpe.wordFreq(Tables.documents(s, d)).cache()
      try {
        val merges = Bpe.learnBatched(s, words, rounds = 3)
        Bpe.encode(words, merges)
          .select(explode($"tokens").as("token"), $"freq")
          .groupBy($"token").agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"token")
          .limit(20)
      } finally words.unpersist(false)
    }),

    // Vocabulary build: corpus-wide term + document frequency, top-k —
    // the op behind frequency-filtered vocabularies and BPE seeding.
    // Scale shape: per-doc counts first (one shuffle, map-side
    // combine over (doc_id, token)), then the per-token rollup where
    // doc_freq is a plain count of the already-distinct pairs (second
    // shuffle, again partial-agg'd — no count(DISTINCT) expand), and
    // the top-k plans as TakeOrderedAndProject, never a global sort.
    "llm_vocab_topk" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", explode(words($"text")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
        .groupBy($"token")
        .agg(sum($"c").as("freq"), count(lit(1)).as("doc_freq"))
        .orderBy($"freq".desc, $"token")
        .limit(100)
    }),

    // Bigram language-model table: conditional next-token
    // probabilities for the 20 highest-mass contexts — the count
    // table behind n-gram LM scoring, perplexity-proxy quality
    // filters and BPE-merge seeding. Scale shape: bigrams explode
    // per-row (no shuffle), then TWO partial-agg'd count shuffles
    // ((w1,w2) then w1 — never a token-partitioned window over the
    // raw stream); the 20 surviving contexts broadcast back, so the
    // rank window sees only their successor rows. p = n12/n1 is a
    // ratio of exact longs — engine-portable at 6 dp.
    "llm_ngram_lm" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bigrams = Tables.documents(s, d)
        .select(words($"text").as("w"))
        .withColumn("n", size($"w"))
        .filter($"n" >= 2)
        .select(explode(transform(sequence(lit(1), $"n" - 1),
          i => struct(element_at($"w", i).as("w1"),
            element_at($"w", i + 1).as("w2")))).as("bg"))
        .select($"bg.w1", $"bg.w2")
      val c12 = bigrams.groupBy($"w1", $"w2").agg(count(lit(1)).as("n12"))
      val c1 = c12.groupBy($"w1").agg(sum($"n12").as("n1"))
      val top = c1.orderBy($"n1".desc, $"w1").limit(20)
      val wN = Window.partitionBy($"w1").orderBy($"n12".desc, $"w2")
      c12.join(broadcast(top), "w1")
        .withColumn("p", round($"n12" * 1.0 / $"n1", 6))
        .withColumn("rk", row_number().over(wN).cast("long"))
        .filter($"rk" <= 3)
        .select($"w1", $"rk", $"w2", $"n12", $"p")
        .orderBy($"w1", $"rk")
    }),

    // Within-document repetition (the C4/Gopher repetition filter):
    // fraction of duplicated 4-gram shingles per document. Pure
    // per-row array algebra — shingle, distinct, ratio — so a 100 TB
    // corpus scores at scan speed with ZERO shuffle (the presentation
    // sort is the only exchange). Complements llm_text_quality's
    // word-level ratios with phrase-level looping detection.
    "llm_repetition" -> ((s, d) => {
      import s.implicits._
      val k = 4
      Tables.documents(s, d)
        .select($"doc_id", words($"text").as("w"))
        .withColumn("n", size($"w"))
        .filter($"n" >= k)
        .withColumn("sh", transform(sequence(lit(1), $"n" - (k - 1)),
          i => concat_ws(" ", (0 until k).map(o =>
            element_at($"w", i + o)): _*)))
        .select($"doc_id",
          size($"sh").cast("long").as("n_shingles"),
          size(array_distinct($"sh")).cast("long").as("n_distinct"),
          round(lit(1.0) - size(array_distinct($"sh")) * 1.0 / size($"sh"),
            6).as("rep_ratio"))
        .orderBy($"doc_id")
    }),

    // Corpus-level duplicated-SPAN detection (Lee et al. 2021 exact
    // substring dedup at 8-token-gram granularity): positions whose
    // 8-gram occurs ≥2 times anywhere in the corpus, per-doc coverage
    // by interval-union fold. Unlike llm_repetition (within-doc) and
    // llm_dedup_* (whole-doc), this finds the cross-document
    // boilerplate spans inside otherwise-unique documents — the case
    // whole-doc dedup is blind to. One uniform hash shuffle; coverage
    // is per-row array algebra, never an exploded position set.
    "llm_dup_spans" -> ((s, d) => {
      import s.implicits._
      Dedup.dupSpans(Tables.documents(s, d), k = 8).orderBy($"doc_id")
    }),

    // Incremental duplicated-span scoring: an ingest batch (doc_id%5=0)
    // probes the STANDING gram-count index built once from the corpus
    // (doc_id%5≠0) — the corpus never re-tokenizes, only batch-sized
    // data moves, and the result is provably identical to a full
    // dupSpans over corpus∪batch restricted to the batch (DedupSpec).
    // Completes the incremental-index quartet (exact-hash, minhash
    // bands, IVF/PQ codes, gram counts).
    "llm_dup_spans_incr" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val index = Dedup.gramIndex(docs.filter($"doc_id" % 5 =!= 0), k = 8)
      Dedup.dupSpansIncremental(index, docs.filter($"doc_id" % 5 === 0),
        k = 8).orderBy($"doc_id")
    }),

    // Line-level exact dedup (the RefinedWeb/CCNet line-filtering
    // shape): the corpus re-cuts into fixed 16-word blocks (the
    // synthetic text has no newlines — a block is the line proxy);
    // every block that repeats ANYWHERE in the corpus survives only at
    // its FIRST occurrence (min (doc_id, pos), packed into one BIGINT
    // since pos < 1e6 at any plausible doc length), and each document
    // reports how much of it survived. Scale shape: blocks flow
    // through ONE content-keyed hash aggregation whose min/count
    // partial-aggregate map-side — a million-fold repeated boilerplate
    // block collapses per-partition BEFORE the shuffle (the skew-safe
    // form of keep-first; a row_number over the block key would
    // single-task hot blocks) — then one join back and a per-doc
    // rollup. Complements llm_dup_spans (sliding 8-gram coverage
    // SCORING): this one decides, per block, what a cleaned corpus
    // keeps.
    "llm_line_dedup" -> ((s, d) => {
      import s.implicits._
      val B = 16
      val blocks = Tables.documents(s, d)
        .select($"doc_id", words($"text").as("w"))
        .withColumn("n", size($"w"))
        .withColumn("start",
          explode(sequence(lit(1), greatest($"n", lit(1)), lit(B))))
        .select($"doc_id",
          (($"start" - 1) / B).cast("long").as("pos"),
          sharedHash(concat_ws(" ", slice($"w", $"start", lit(B))))
            .as("bh"),
          least($"n" - $"start" + 1, lit(B)).cast("long").as("btok"))
      // keep-first order key is a lexicographic (doc_id, pos) struct
      // min — partial-agg'd, and immune to the packed-BIGINT overflow
      // a doc_id*K+pos key has once pos reaches K
      val first = blocks.groupBy($"bh")
        .agg(min(struct($"doc_id", $"pos")).as("f"))
      blocks.join(first, "bh")
        .withColumn("dropped",
          when($"doc_id" === $"f.doc_id" && $"pos" === $"f.pos", 0L)
            .otherwise(1L))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum($"dropped").as("n_dropped"),
          sum($"btok" * (lit(1L) - $"dropped")).as("kept_tokens"))
        .orderBy($"doc_id")
    }),

    // Cluster-balanced sampling (the DCLM/SemDeDup-era curation
    // recipe): refine centroids with two Lloyd rounds, assign the
    // corpus once (the persisted IVF index), then draw a fixed
    // per-cluster quota by deterministic hash coin — topic-balanced
    // where a uniform sample would follow the corpus's cluster skew.
    // The per-cluster pick is the salted two-phase top-k (the
    // llm_stratified_sample shape), so a giant cluster never
    // single-tasks its selection.
    "llm_cluster_sample" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = 5
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, stride = 40, iters = 2)
      val assigned = Similarity.ivfIndex(emb, cents)
        .select($"nb_id".as("vec_id"), $"cent_id".as("cluster"))
        .withColumn("coin",
          sharedHash(concat(lit("cs:"), $"vec_id".cast("string"))))
        .withColumn("salt", pmod(hash($"vec_id"), lit(32)))
      val w1 = Window.partitionBy($"cluster", $"salt")
        .orderBy($"coin", $"vec_id")
      val local = assigned.withColumn("rn", row_number().over(w1))
        .filter($"rn" <= k).drop("rn", "salt")
      val w2 = Window.partitionBy($"cluster").orderBy($"coin", $"vec_id")
      local.withColumn("rank", row_number().over(w2).cast("long"))
        .filter($"rank" <= k)
        .select($"cluster", $"rank", $"vec_id")
        .orderBy($"cluster", $"rank")
    }),

    // Perplexity-proxy quality score: per-document mean negative
    // log-likelihood under the corpus's own bigram LM (the CCNet-style
    // LM quality filter — repetitive/templated docs score LOW nll,
    // incoherent token soup scores HIGH). Scale shape: the model table
    // is the (w1, w2) count relation — corpus-sized, so scoring is a
    // CO-PARTITIONED join of the bigram stream against it (both sides
    // keyed (w1, w2); at 100 TB bucket both by bigram and the join
    // plans with zero Exchange), never a broadcast of the model; the
    // per-doc mean is one partial-agg'd shuffle by doc_id. p = n12/n1
    // is a ratio of exact longs — identical doubles in any engine.
    "llm_quality_lm" -> ((s, d) => {
      import s.implicits._
      Retrieval.bigramNll(Tables.documents(s, d)).orderBy($"doc_id")
    }),

    // CCNet perplexity bucketing (Wenzek et al. 2019): split the
    // corpus into head/middle/tail TERCILES by LM quality — the
    // published pre-training recipe (train preferentially on the
    // head). Score = the llm_quality_lm bigram NLL; the tercile
    // assignment avoids a global rank window via the an_ntile two-pass
    // shape: 256 integer micro-NLL range bins, bin offsets from a
    // bounded ≤256-row collect, within-bin PARTITIONED rank. Ties
    // break on doc_id, so the split is total and engine-portable.
    "llm_ccnet_buckets" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // The scored relation is consumed THREE times (min/max stats, the
      // 256-bin histogram, the final rank join) — materialize the slim
      // one-row-per-doc scores once, or the whole bigram-LM pipeline
      // (tokenize + corpus-model join + per-doc agg) re-executes per
      // consumer. At sf1.0 this was 3× the query's entire cost.
      // Materialize.eager: localCheckpoint here (local mode), persist
      // under spark.graft.materialize=persist on lossy clusters.
      val scored = graft.Materialize.eager(
        Retrieval.bigramNll(Tables.documents(s, d))
          .select($"doc_id", $"nll",
            (round($"nll" * 1e6)).cast("long").as("m")))
      val stats = scored.agg(min($"m"), max($"m"), count(lit(1))).first()
      val (lo, hi, n) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      val span = hi - lo + 1
      val binned = scored.withColumn("bin",
        expr(s"((m - $lo) * 256) DIV $span"))
      val hist = binned.groupBy($"bin").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offDf = hist.toSeq.map { case (b, c) =>
        val row = (b, acc); acc += c; row
      }.toDF("bin", "off")
      val wBin = Window.partitionBy($"bin").orderBy($"m", $"doc_id")
      binned.withColumn("rn", row_number().over(wBin).cast("long"))
        .join(broadcast(offDf), "bin")
        .withColumn("r", $"rn" + $"off")
        .withColumn("t", expr(s"((r - 1) * 3) DIV $n"))
        .select($"doc_id", $"nll",
          when($"t" === 0L, "head").when($"t" === 1L, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy($"doc_id")
    }),

    // PMI co-occurrence: pointwise mutual information of token pairs
    // within a ±2 window — the association statistic behind
    // word-vector prep, collocation mining and phrase detection.
    // Scale shape: skip-gram pairs explode per-row (shift-1 and
    // shift-2 zips, no shuffle), ONE partial-agg'd pair-count shuffle
    // + one token-count shuffle; corpus totals ride in as broadcast
    // scalars; top-k is TakeOrdered. PMI is a ratio of exact longs —
    // identical doubles in any engine, rounded at 6 dp.
    "llm_pmi_cooccur" -> ((s, d) => {
      import s.implicits._
      def shifted(dist: Int) =
        Tables.documents(s, d)
          .select(words($"text").as("w"))
          .withColumn("n", size($"w"))
          .filter($"n" > dist)
          .select(explode(transform(sequence(lit(1), $"n" - dist),
            i => struct(
              least(element_at($"w", i), element_at($"w", i + dist))
                .as("a"),
              greatest(element_at($"w", i), element_at($"w", i + dist))
                .as("b")))).as("p"))
          .select($"p.a", $"p.b")
      val prs = shifted(1).unionAll(shifted(2)).filter($"a" =!= $"b")
      val cab = prs.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
      val toks = Tables.documents(s, d)
        .select(explode(words($"text")).as("t")).filter($"t" =!= "")
        .groupBy($"t").agg(count(lit(1)).as("c_t"))
      val totals = cab.agg(sum($"c_ab").as("pair_total"))
        .crossJoin(toks.agg(sum($"c_t").as("tok_total")))
      cab.filter($"c_ab" >= 5)
        .join(broadcast(toks.withColumnRenamed("t", "a")
          .withColumnRenamed("c_t", "c_a")), "a")
        .join(broadcast(toks.withColumnRenamed("t", "b")
          .withColumnRenamed("c_t", "c_b")), "b")
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(log(
          ($"c_ab" * 1.0 / $"pair_total")
            / (($"c_a" * 1.0 / $"tok_total")
               * ($"c_b" * 1.0 / $"tok_total"))), 6))
        .orderBy($"pmi".desc, $"a", $"b").limit(20)
        .select($"a", $"b", $"c_ab", $"pmi")
    }),

    // TF-IDF keyword extraction: top-3 scoring terms per document —
    // the op behind keyword tagging and relevance-weighted filtering.
    // Scale shape: document frequency comes from a partial-agg'd
    // rollup of the per-(doc, token) counts JOINED back on token —
    // never a `count(...) over (partition by token)` window, which
    // would buffer a stop-word's billions of rows in one task. The
    // corpus size N rides in as a broadcast single-row cross join, so
    // nothing round-trips the driver; the only Window partitions by
    // doc_id, whose groups are document-sized by construction.
    "llm_tfidf_topterms" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select($"doc_id", explode(words($"text")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      // `tf > 0` is vacuously true (counts are >= 1) but it keeps the
      // count column CONSUMED in this branch: otherwise column pruning
      // rewrites the rollup's inner aggregate to a bare distinct, the
      // two consumers of the (doc_id, token) shuffle stop canonicalizing
      // equal, and AQE can't reuse the stage — the corpus would be
      // tokenized and shuffled twice (PlanSpec pins the single-scan plan)
      val df = tf.where($"tf" > 0)
        .groupBy($"token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val rk = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round($"tf" * log($"n_docs" * 1.0 / $"df"), 6))
        .withColumn("rk", row_number().over(rk).cast("long"))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk", $"token", $"tfidf")
        .orderBy($"doc_id", $"rk")
    }),

    // BM25 retrieval: top-50 documents for a fixed term query — the op
    // behind retrieval-augmented corpus curation and quality-targeted
    // sampling. Scale shape: the query terms are a literal IN-list, so
    // the (doc_id, token) shuffle carries ONLY rows matching the query
    // (three terms out of the whole vocabulary — the corpus tokenizes
    // but never shuffles its full token stream); document length is a
    // per-row `size`, no explode-aggregate; df and the (N, avgdl)
    // corpus stats ride in as broadcast cross joins; the top-k plans
    // as TakeOrderedAndProject, with row_number applied AFTER the
    // limit so the rank window sorts 50 rows, not the corpus.
    // Determinism: per-term scores round at 6 dp before the per-doc
    // sum (<= 3 addends), and rank breaks ties on doc_id.
    "llm_bm25_topk" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val scored = Retrieval.bm25Scores(Tables.documents(s, d),
        Seq("merge", "scan", "window"))
      val top = scored.orderBy($"score".desc, $"doc_id").limit(50)
      top.withColumn("rank", row_number()
          .over(Window.orderBy($"score".desc, $"doc_id")).cast("long"))
        .select($"rank", $"doc_id", $"score")
        .orderBy($"rank")
    }),

    // Temperature-weighted domain mixing (see Retrieval.domainMix):
    // stratum weights ∝ count^0.5 flatten the mix toward rare
    // (source, lang) domains; the deterministic md5 gate draws the
    // identical sample in any engine.
    "llm_domain_mix" -> ((s, d) => {
      import s.implicits._
      Retrieval.domainMix(Tables.documents(s, d))
        .orderBy($"source", $"lang")
    }),

    // Stable train/val/test split + leakage audit: assignment is a
    // pure function of the CONTENT hash (md5 ppm: <800k train, <900k
    // val, else test), so re-running the pipeline — or running it in
    // another engine — assigns every document identically, and adding
    // documents never reshuffles existing ones (the property random
    // splits lack). The audit counts, per split, the distinct content
    // hashes that ALSO appear in another split — exact-duplicate
    // contamination across the boundary (the synthetic corpus has
    // exact dups by construction, so the count is non-vacuous).
    // Scale shape: one hash-groupBy over (hash, split) pairs; the
    // leaked-hash set (dups only — tiny) broadcasts back via a semi
    // join; token totals are per-row sizes summed in the same
    // partial agg. No window, no driver state.
    "llm_split_stable" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("h", sharedHash($"text"))
        .withColumn("split",
          when(pmod($"h", lit(1000000L)) < 800000L, "train")
            .when(pmod($"h", lit(1000000L)) < 900000L, "val")
            .otherwise("test"))
      val leakedHashes = docs.groupBy($"h")
        .agg(countDistinct($"split").as("ns"))
        .filter($"ns" > 1).select($"h")
      val leaks = docs.join(leakedHashes, Seq("h"), "left_semi")
        .groupBy($"split")
        .agg(countDistinct($"h").as("n_leaked_hashes"))
      docs.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(words($"text"))).cast("long").as("n_tokens"))
        .join(leaks, Seq("split"), "left")
        .select($"split", $"n_docs", $"n_tokens",
          coalesce($"n_leaked_hashes", lit(0L)).as("n_leaked_hashes"))
        .orderBy($"split")
    }),

    // PII scrub: redact emails and long digit runs (the C4/CCNet-style
    // pre-training hygiene pass). Pure per-row codegen'd regex — no
    // shuffle, scales linearly. The synthetic docs carry no PII, so the
    // query plants a deterministic email + numeric ref per row (same
    // constructed-corpus precedent as llm_dedup_exact) — doc 0's ref is
    // 5 digits and survives, every other doc's is 8 and is redacted, so
    // the oracle checks both the hit and the miss path.
    "llm_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val num = "[0-9]{6,}"
      Tables.documents(s, d)
        .select($"doc_id", concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com ref "),
          ($"doc_id" * 9999991L + 12345L).cast("string")).as("text"))
        .select($"doc_id",
          size(regexp_extract_all($"text", lit(email), lit(0))).cast("long")
            .as("n_emails"),
          size(regexp_extract_all($"text", lit(num), lit(0))).cast("long")
            .as("n_ids"),
          regexp_replace(regexp_replace($"text", email, "<EMAIL>"),
            num, "<ID>").as("scrubbed"))
        .orderBy($"doc_id")
    }),

    // Sequence packing: assign each doc a start offset and sequence id
    // under concat-and-chunk packing into fixed token-budget training
    // sequences (the pretraining pack step). Docs are salted into S
    // independent packing streams; within a stream the offset is a
    // RUNNING sum — after the one shuffle the sort spills and the
    // running aggregate holds O(1) state, so a stream of any size
    // packs without buffering (S is the knob that scales with the
    // cluster; the blanket PlanSpec window test pins that this never
    // plans an unpartitioned window).
    "llm_pack_sequences" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 4096L // context window, tokens
      val S = 32L   // parallel packing streams
      val w = Window.partitionBy($"stream").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select($"doc_id", size(words($"text")).cast("long").as("n_tokens"))
        .withColumn("stream", $"doc_id" % S)
        .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
        .select($"doc_id", $"n_tokens", $"stream", $"start_off",
          ($"stream" * 1000000000000L + floor($"start_off" / B).cast("long"))
            .as("seq_id"))
        .orderBy($"doc_id")
    }),

    // Order-sensitive rolling-hash document fingerprint.
    "llm_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", fingerprint(words($"text")).as("fp"))
        .orderBy($"doc_id")
    }),

    // End-to-end corpus filter: the composition a real training-data
    // pipeline runs — drop near-duplicates (keep the lower doc_id of
    // each Jaccard≥0.8 pair), then keep docs that pass quality and
    // token-count gates. The dedup stage runs on MinHash-LSH candidates
    // (bounded bucket-local join — the 100 TB shape), not the exact
    // all-shingle join; `exactDedup = true` flips back to the exact
    // path for small-corpus verification (PipelineSpec asserts both
    // agree on the testdata).
    "llm_pipeline" -> ((s, d) => pipeline(s, d, exactDedup = false)),

    // Multimodal frame sampling + feature extraction: a 64-byte fake
    // "video" per doc sliced into 16-byte frames, every 2nd frame kept,
    // features derived per frame (stubbed encoder — see Multimodal).
    "llm_frames" -> ((s, d) => {
      import s.implicits._
      val blobs = Tables.documents(s, d).select($"doc_id",
        unhex(concat(md5($"text"), md5(concat($"text", lit("a"))),
          md5(concat($"text", lit("b"))), md5(concat($"text", lit("c")))))
          .as("payload"))
      Multimodal.extractFeatures(
          Multimodal.frameSample(blobs, frameBytes = 16, stride = 2))
        .select($"doc_id", $"frame_idx",
          conv(hex($"frame").substr(1, 2), 16, 10).cast("long").as("lead_byte"),
          round(element_at($"features", 1), 6).as("f1"))
        .orderBy($"doc_id", $"frame_idx")
    }),

    // Multimodal plumbing: binary payloads carrying REAL PNG/BMP/GIF
    // headers, decoded batch-wise per partition by an actual header
    // parser (signature + dimension fields — see Multimodal); the
    // oracle recomputes the embedded dims from md5(text) and the
    // format from the doc_id round-robin.
    "llm_multimodal" -> ((s, d) => {
      import s.implicits._
      val blobs = Multimodal.blobTable(Tables.documents(s, d))
        .as[Multimodal.BlobRow]
      Multimodal.decode(blobs).toDF().orderBy($"doc_id")
    }),

    // REAL pixel features: complete 24-bpp BMPs (offset, stride
    // padding, BGR order all honored) decoded to mean RGB + an 8-bin
    // integer-luma histogram, partition-batched. The pixel channels
    // are a fixed arithmetic function of (doc_id, pixel index), so the
    // oracle recomputes the statistics from first principles while the
    // engine must recover them from the encoded bytes.
    "llm_bmp_features" -> ((s, d) => {
      import s.implicits._
      val blobs = Multimodal.bmpTable(Tables.documents(s, d))
        .as[Multimodal.BlobRow]
      Multimodal.extractBmpFeatures(blobs).orderBy($"doc_id")
    }),

    // REAL pixel decode of a COMPRESSED format: complete truecolor
    // PNGs (real CRCs, zlib IDAT, per-row filters cycling through all
    // five of None/Sub/Up/Average/Paeth) are decoded back to pixels by
    // walking chunks, inflating, and reversing the filters — the
    // oracle recomputes the channel stats from the pixel formula, so
    // any chunk-walk / inflate / unfilter mistake breaks the hash.
    // MultimodalSpec additionally validates the encoder against the
    // JDK's own independent ImageIO PNG reader.
    "llm_png_features" -> ((s, d) => {
      import s.implicits._
      val blobs = Multimodal.pngTable(Tables.documents(s, d))
        .as[Multimodal.BlobRow]
      Multimodal.extractPngFeatures(blobs).orderBy($"doc_id")
    })
  )

  /** The llm_pipeline body, parameterized by dedup strategy:
    * `exactDedup = false` (the registered default) finds near-dup pairs
    * via MinHash-LSH candidates; `true` runs the exact all-shingle join
    * (small-corpus verifier — PipelineSpec asserts both agree). */
  def pipeline(s: SparkSession, d: String, exactDedup: Boolean): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val dupPairs =
      if (exactDedup) Dedup.ngramJaccard(docs, 0.8)
      else Dedup.minHashLsh(docs, 0.8)
    val dupLosers = dupPairs.select($"db".as("doc_id")).distinct()
    docs.join(dupLosers, Seq("doc_id"), "left_anti")
      .withColumn("w", words($"text"))
      .withColumn("n", size($"w").cast("long"))
      .withColumn("uniq_ratio", size(array_distinct($"w")) * 1.0 / $"n")
      .filter($"n" >= 20 && $"n" <= 95 && $"uniq_ratio" >= 0.25)
      .select($"doc_id", $"lang", $"n",
        round($"uniq_ratio", 6).as("uniq_ratio"))
      .orderBy($"doc_id")
  }

  private def h(x: String) = SHARED_HASH_SQL.format(x)

  /** Two Lloyd rounds of spherical k-means + full-corpus assignment,
    * replicated in DuckDB SQL (the llm_ann_ivf_kmeans discipline):
    * `e` = corpus, `c2` = refined centroids, `ab` = (vec_id, cent_id).
    * Shared by the IVF-kmeans ANN oracle and the SemDeDup oracle.
    *
    * The full-corpus assignments use ARG_MAX over an encoded
    * (rounded-cosine, -cent_id) BIGINT key instead of a row_number
    * window: semantics are identical (max by 6dp cosine, ties to the
    * smallest cent_id — round(cos,6)*1e6 is integral, and cent_ids
    * stay below the 1e12 radix at any synthetic scale), but the hash
    * aggregate streams the N-vectors-by-C-centroids join in O(N)
    * state where DuckDB's window sort materializes all N*C rows —
    * the one oracle-side memory hazard of the sf1.0 gate. */
  private[graft] val ASSIGN_KEY =
    """CAST(round(list_cosine_similarity(v.e, c.ec), 6) * 1000000
      |             AS BIGINT) * 1000000000000 - c.cent_id""".stripMargin
  private val KMEANS_CTE =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |c0 AS (SELECT vec_id AS cent_id, e AS ec FROM e WHERE vec_id % 40 = 0),
      |a1 AS (SELECT v.vec_id,
      |       arg_max(c.cent_id, $ASSIGN_KEY) AS cent_id
      |       FROM e v CROSS JOIN c0 c GROUP BY v.vec_id),
      |m1 AS (SELECT a1.cent_id, j, avg(v.e[j+1]) AS m
      |       FROM a1 JOIN e v USING (vec_id), range(64) rj(j)
      |       GROUP BY a1.cent_id, j),
      |c1 AS (SELECT c0.cent_id, coalesce(n.ec, c0.ec) AS ec
      |       FROM c0 LEFT JOIN (SELECT cent_id, list(m ORDER BY j) AS ec
      |                          FROM m1 GROUP BY cent_id) n USING (cent_id)),
      |a2 AS (SELECT v.vec_id,
      |       arg_max(c.cent_id, $ASSIGN_KEY) AS cent_id
      |       FROM e v CROSS JOIN c1 c GROUP BY v.vec_id),
      |m2 AS (SELECT a2.cent_id, j, avg(v.e[j+1]) AS m
      |       FROM a2 JOIN e v USING (vec_id), range(64) rj(j)
      |       GROUP BY a2.cent_id, j),
      |c2 AS (SELECT c1.cent_id, coalesce(n.ec, c1.ec) AS ec
      |       FROM c1 LEFT JOIN (SELECT cent_id, list(m ORDER BY j) AS ec
      |                          FROM m2 GROUP BY cent_id) n USING (cent_id)),
      |ab AS (SELECT v.vec_id,
      |       arg_max(c.cent_id, $ASSIGN_KEY) AS cent_id
      |       FROM e v CROSS JOIN c2 c GROUP BY v.vec_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_weighted_sample" ->
      s"""WITH docs AS (
        |  SELECT lang, doc_id, least(length(text) // 2, 1000) AS w_pm,
        |         ${TextOps.hashFracSql("'ws#' || doc_id")} AS frac
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN frac * 1000.0 < w_pm
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(w_pm) AS BIGINT) AS w_pm_sum
        |FROM docs GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_dsir_sample" ->
      s"""WITH wt AS (SELECT doc_id, lang,
        |              list_filter(string_split(trim(text), ' '),
        |                          t -> t <> '') AS w
        |            FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(w) AS f FROM wt),
        |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS f
        |       FROM (SELECT doc_id, lang, w,
        |               unnest(generate_series(1, len(w) - 1)) AS i
        |             FROM wt)),
        |fb AS (SELECT doc_id, lang, ${h("f")} % 64 AS b
        |       FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)),
        |pb AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS ct
        |       FROM fb GROUP BY b),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
        |               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |                    AS BIGINT) AS nt
        |        FROM fb),
        |lr AS (SELECT b, CAST(round(ln((ct + 1.0) * (nr + 64) /
        |                 ((cr + 1.0) * (nt + 64))) * 1e6) AS BIGINT)
        |              AS lr_micro
        |       FROM pb CROSS JOIN tot),
        |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
        |       FROM fb GROUP BY doc_id, b),
        |wgt AS (SELECT doc_id, CAST(sum(n * lr_micro) AS BIGINT) AS w_micro
        |        FROM db JOIN lr USING (b) GROUP BY doc_id),
        |g AS (SELECT doc_id, w_micro, w_micro + CAST(round(
        |        -ln(-ln(${TextOps.hashFracSql("'dsir:' || doc_id")}))
        |        * 1e6) AS BIGINT) AS g_micro
        |      FROM wgt)
        |SELECT doc_id, w_micro, g_micro FROM g
        |ORDER BY g_micro DESC, doc_id LIMIT 100""".stripMargin,
    "llm_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |         upper(text)
        |  FROM documents),
        |h AS (SELECT doc_id, md5(lower(trim(text))) AS nh FROM corpus),
        |g AS (SELECT nh, min(doc_id) AS kept_id,
        |             CAST(count(*) AS BIGINT) AS group_size
        |      FROM h GROUP BY nh)
        |SELECT h.doc_id, g.kept_id, g.group_size
        |FROM h JOIN g USING (nh) ORDER BY h.doc_id""".stripMargin,
    "llm_dedup_incr" ->
      """WITH c AS (SELECT md5(lower(trim(text))) AS nh FROM documents
        |           WHERE doc_id % 5 <> 0),
        |b AS (SELECT doc_id, md5(lower(trim(text))) AS nh FROM documents
        |      WHERE doc_id % 5 = 0),
        |k AS (SELECT nh, min(doc_id) AS doc_id FROM b GROUP BY nh)
        |SELECT doc_id FROM k
        |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.nh = k.nh)
        |ORDER BY doc_id""".stripMargin,
    "llm_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id, md5(text) AS h FROM documents),
        |r AS (SELECT lang, doc_id,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY h, doc_id) AS rn
        |      FROM h)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 50
        |ORDER BY lang, doc_id""".stripMargin,
    "llm_contamination" -> (DOC_CTE +
      """, cs AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0),
        |bs AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 7 = 0),
        |ov AS (SELECT cs.doc_id, bs.bench_id,
        |              CAST(count(*) AS BIGINT) AS common
        |       FROM cs JOIN bs USING (s) GROUP BY 1, 2)
        |SELECT doc_id, bench_id, common FROM ov WHERE common >= 5
        |ORDER BY doc_id, bench_id""".stripMargin),
    "llm_dedup_ngram" -> (DOC_CTE +
      """, common AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(common*1.0/(ca.n+cb.n-common), 6) AS jacc
        |FROM common JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE common*1.0/(ca.n+cb.n-common) >= 0.8
        |ORDER BY da, db""".stripMargin),
    "llm_containment" -> (DOC_CTE +
      """, common AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, round(common * 1.0 / ca.n, 6) AS cont
        |FROM common JOIN cnt ca ON da = ca.doc_id
        |WHERE common * 1.0 / ca.n >= 0.8
        |ORDER BY da, db""".stripMargin),
    "llm_dedup_minhash" -> (DOC_CTE +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db)
        |SELECT da, db, round(common*1.0/(ca.n+cb.n-common), 6) AS jacc
        |FROM common JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE common*1.0/(ca.n+cb.n-common) >= 0.8
        |ORDER BY da, db""".stripMargin),
    "llm_dedup_minhash_incr" -> (DOC_CTE +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket
        |         WHERE x.doc_id % 5 <> 0 AND y.doc_id % 5 = 0),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db)
        |SELECT da, db, round(common*1.0/(ca.n+cb.n-common), 6) AS jacc
        |FROM common JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE common*1.0/(ca.n+cb.n-common) >= 0.8
        |ORDER BY da, db""".stripMargin),
    "llm_dedup_clusters_incr" -> (DOC_CTE.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db),
        |vp AS (SELECT da, db
        |       FROM common JOIN cnt ca ON da = ca.doc_id
        |                   JOIN cnt cb ON db = cb.doc_id
        |       WHERE common*1.0/(ca.n+cb.n-common) >= 0.8),
        |corp_e AS (SELECT da AS v, db AS w FROM vp
        |             WHERE da % 5 <> 0 AND db % 5 <> 0
        |           UNION SELECT db, da FROM vp
        |             WHERE da % 5 <> 0 AND db % 5 <> 0),
        |reach AS (SELECT v, w FROM corp_e
        |          UNION
        |          SELECT r.v, e.w FROM reach r JOIN corp_e e ON r.w = e.v),
        |corp_lab AS (SELECT d.doc_id,
        |               coalesce(l.cluster, d.doc_id) AS cluster
        |             FROM documents d LEFT JOIN
        |               (SELECT v AS doc_id, least(v, min(w)) AS cluster
        |                FROM reach GROUP BY v) l USING (doc_id)
        |             WHERE d.doc_id % 5 <> 0),
        |nn_e AS (SELECT da AS v, db AS w FROM vp
        |           WHERE da % 5 = 0 AND db % 5 = 0
        |         UNION SELECT db, da FROM vp
        |           WHERE da % 5 = 0 AND db % 5 = 0),
        |reach_b AS (SELECT v, w FROM nn_e
        |            UNION
        |            SELECT r.v, e.w FROM reach_b r JOIN nn_e e ON r.w = e.v),
        |comp AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS comp
        |         FROM documents d LEFT JOIN
        |           (SELECT v AS doc_id, least(v, min(w)) AS comp
        |            FROM reach_b GROUP BY v) l USING (doc_id)
        |         WHERE d.doc_id % 5 = 0),
        |nc AS (SELECT CASE WHEN da % 5 = 0 THEN db ELSE da END AS cdoc,
        |              CASE WHEN da % 5 = 0 THEN da ELSE db END AS bdoc
        |       FROM vp WHERE (da % 5 = 0) <> (db % 5 = 0)),
        |seeds AS (SELECT n.bdoc AS doc_id, min(c.cluster) AS seed
        |          FROM nc n JOIN corp_lab c ON c.doc_id = n.cdoc
        |          GROUP BY n.bdoc),
        |comp_seed AS (SELECT comp, min(seed) AS comp_seed
        |              FROM comp LEFT JOIN seeds USING (doc_id)
        |              GROUP BY comp),
        |lab AS (SELECT comp,
        |          CASE WHEN comp_seed IS NULL THEN comp
        |               ELSE least(comp_seed, comp) END AS cluster
        |        FROM comp_seed)
        |SELECT c.doc_id, l.cluster,
        |       CAST(l.cluster = c.doc_id AS BIGINT) AS keep
        |FROM comp c JOIN lab l USING (comp) ORDER BY c.doc_id""".stripMargin),
    "llm_dedup_clusters" -> (DOC_CTE.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db),
        |pairs AS (SELECT da, db
        |          FROM common JOIN cnt ca ON da = ca.doc_id
        |                      JOIN cnt cb ON db = cb.doc_id
        |          WHERE common*1.0/(ca.n+cb.n-common) >= 0.8),
        |e AS (SELECT da AS v, db AS w FROM pairs
        |      UNION SELECT db, da FROM pairs),
        |reach AS (SELECT v, w FROM e
        |          UNION
        |          SELECT r.v, e.w FROM reach r JOIN e ON r.w = e.v),
        |lab AS (SELECT v AS doc_id, least(v, min(w)) AS cluster
        |        FROM reach GROUP BY v)
        |SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster,
        |       CAST(coalesce(l.cluster, d.doc_id) = d.doc_id AS BIGINT) AS keep
        |FROM documents d LEFT JOIN lab l USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    "llm_dedup_keep_best" -> (DOC_CTE.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db),
        |pairs AS (SELECT da, db
        |          FROM common JOIN cnt ca ON da = ca.doc_id
        |                      JOIN cnt cb ON db = cb.doc_id
        |          WHERE common*1.0/(ca.n+cb.n-common) >= 0.8),
        |e AS (SELECT da AS v, db AS w FROM pairs
        |      UNION SELECT db, da FROM pairs),
        |reach AS (SELECT v, w FROM e
        |          UNION
        |          SELECT r.v, e.w FROM reach r JOIN e ON r.w = e.v),
        |lab AS (SELECT v AS doc_id, least(v, min(w)) AS cluster
        |        FROM reach GROUP BY v),
        |qual AS (SELECT doc_id,
        |           round(len(list_distinct(string_split(trim(text), ' ')))
        |             * 1.0 / len(string_split(trim(text), ' ')), 6)
        |             AS quality
        |         FROM documents),
        |filled AS (SELECT d.doc_id,
        |             coalesce(l.cluster, d.doc_id) AS cluster, q.quality
        |           FROM documents d LEFT JOIN lab l USING (doc_id)
        |           JOIN qual q USING (doc_id)),
        |best AS (SELECT cluster, doc_id AS best_doc FROM (
        |  SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
        |    ORDER BY quality DESC, doc_id ASC) AS rn FROM filled)
        |  WHERE rn = 1)
        |SELECT f.doc_id, f.cluster, f.quality,
        |       CAST(f.doc_id = b.best_doc AS BIGINT) AS keep
        |FROM filled f JOIN best b USING (cluster)
        |ORDER BY f.doc_id""".stripMargin),
    "llm_dedup_simhash" ->
      (s"""WITH dw AS (SELECT DISTINCT doc_id, word FROM (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents)),
        |hb AS (SELECT doc_id, ${h("word")} AS h FROM dw),
        |bits AS (SELECT doc_id, b,
        |                sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |         FROM hb, range(60) r(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id,
        |              sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sig
        |       FROM bits GROUP BY doc_id),
        |ch AS (SELECT doc_id, c, (sig >> (15*c)) & 32767 AS chunk, sig
        |       FROM sg, range(4) r(c)),
        |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
        |                 CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hd
        |          FROM ch x JOIN ch y ON x.c = y.c AND x.chunk = y.chunk
        |            AND x.doc_id < y.doc_id)
        |SELECT da, db, hd FROM pairs WHERE hd <= 3 ORDER BY da, db""".stripMargin),
    "llm_dedup_embcos" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |dt AS (SELECT vec_id, b, p,
        |              sum((CASE WHEN (((b*4+p)*2654435761 + j*40503) >> 7)
        |                             & 1 = 1
        |                        THEN 1.0 ELSE -1.0 END) * e[j+1]) AS dot
        |       FROM e, range(14) rb(b), range(4) rp(p), range(64) rj(j)
        |       GROUP BY vec_id, b, p),
        |bk AS (SELECT vec_id, b,
        |              sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |                AS bucket
        |       FROM dt GROUP BY vec_id, b),
        |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        |         FROM bk x JOIN bk y ON x.b = y.b AND x.bucket = y.bucket
        |           AND x.vec_id < y.vec_id),
        |d AS (SELECT va, vb, list_cosine_similarity(a.e, b.e) AS c
        |      FROM cand JOIN e a ON a.vec_id = va JOIN e b ON b.vec_id = vb)
        |SELECT va, vb, round(c, 6) AS cos FROM d WHERE c >= 0.5
        |ORDER BY va, vb""".stripMargin,
    "llm_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |scored AS (SELECT q.vec_id AS query_id, n.vec_id AS nb_id,
        |                  round(list_cosine_similarity(q.e, n.e), 6) AS cos
        |           FROM e q JOIN e n ON n.vec_id <> q.vec_id
        |           WHERE q.vec_id % 25 = 0)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |dt AS (SELECT vec_id, p,
        |              sum((CASE WHEN ((p*2654435761 + j*40503) >> 7) & 1 = 1
        |                        THEN 1.0 ELSE -1.0 END) * e[j+1]) AS dot
        |       FROM e, range(4) rp(p), range(64) rj(j)
        |       GROUP BY vec_id, p),
        |bk AS (SELECT vec_id,
        |              sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |                AS bucket
        |       FROM dt GROUP BY vec_id),
        |scored AS (SELECT q.vec_id AS query_id, n.vec_id AS nb_id,
        |                  round(list_cosine_similarity(qe.e, ne.e), 6) AS cos
        |           FROM bk q JOIN bk n ON q.bucket = n.bucket
        |             AND n.vec_id <> q.vec_id
        |           JOIN e qe ON qe.vec_id = q.vec_id
        |           JOIN e ne ON ne.vec_id = n.vec_id
        |           WHERE q.vec_id % 25 = 0)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, e AS ec FROM e WHERE vec_id % 40 = 0),
        |ab AS (SELECT v.vec_id,
        |       arg_max(c.cent_id, $ASSIGN_KEY) AS cent_id
        |       FROM e v CROSS JOIN c GROUP BY v.vec_id),
        |aq AS (SELECT vec_id, cent_id FROM (
        |  SELECT v.vec_id, c.cent_id,
        |         row_number() OVER (PARTITION BY v.vec_id
        |           ORDER BY round(list_cosine_similarity(v.e, c.ec), 6) DESC,
        |                    c.cent_id) AS r
        |  FROM e v CROSS JOIN c WHERE v.vec_id % 25 = 0) WHERE r <= 2),
        |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS nb_id,
        |                  round(list_cosine_similarity(qe.e, be.e), 6) AS cos
        |           FROM aq q JOIN ab b USING (cent_id)
        |           JOIN e qe ON qe.vec_id = q.vec_id
        |           JOIN e be ON be.vec_id = b.vec_id
        |           WHERE b.vec_id <> q.vec_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |sub AS (SELECT vec_id, r.m AS sub, e[r.m*16+1 : r.m*16+16] AS se
        |        FROM e, range(4) r(m)),
        |cb AS (SELECT vec_id // 10 AS cid, sub, se AS ce FROM sub
        |       WHERE vec_id % 10 = 0 AND vec_id < 640),
        |codes AS (SELECT vec_id, sub, cid FROM (
        |  SELECT s.vec_id, s.sub, c.cid,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub
        |           ORDER BY round(list_inner_product(s.se, s.se)
        |                    - 2*list_inner_product(s.se, c.ce)
        |                    + list_inner_product(c.ce, c.ce), 6) ASC,
        |                    c.cid) AS rk
        |  FROM sub s JOIN cb c USING (sub)) WHERE rk = 1),
        |qd AS (SELECT s.vec_id AS query_id, s.sub, c.cid,
        |         round(list_inner_product(s.se, s.se)
        |           - 2*list_inner_product(s.se, c.ce)
        |           + list_inner_product(c.ce, c.ce), 6) AS qd2
        |       FROM sub s JOIN cb c USING (sub) WHERE s.vec_id % 25 = 0),
        |adc AS (SELECT q.query_id, k.vec_id AS nb_id,
        |               round(sum(q.qd2), 6) AS adist
        |        FROM codes k JOIN qd q ON k.sub = q.sub AND k.cid = q.cid
        |        WHERE k.vec_id <> q.query_id
        |        GROUP BY q.query_id, k.vec_id),
        |short AS (SELECT query_id, nb_id FROM (
        |  SELECT query_id, nb_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY adist ASC, nb_id) AS rk FROM adc) WHERE rk <= 10),
        |scored AS (SELECT s.query_id, s.nb_id,
        |             round(list_cosine_similarity(qe.e, ne.e), 6) AS cos
        |           FROM short s
        |           JOIN e qe ON qe.vec_id = s.query_id
        |           JOIN e ne ON ne.vec_id = s.nb_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_pq_incr" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |sub AS (SELECT vec_id, r.m AS sub, e[r.m*16+1 : r.m*16+16] AS se
        |        FROM e, range(4) r(m)),
        |cb AS (SELECT vec_id // 10 AS cid, sub, se AS ce FROM sub
        |       WHERE vec_id % 10 = 0 AND vec_id < 640
        |         AND vec_id % 25 <> 0),
        |codes AS (SELECT vec_id, sub, cid FROM (
        |  SELECT s.vec_id, s.sub, c.cid,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub
        |           ORDER BY round(list_inner_product(s.se, s.se)
        |                    - 2*list_inner_product(s.se, c.ce)
        |                    + list_inner_product(c.ce, c.ce), 6) ASC,
        |                    c.cid) AS rk
        |  FROM sub s JOIN cb c USING (sub)
        |  WHERE s.vec_id % 25 <> 0) WHERE rk = 1),
        |qd AS (SELECT s.vec_id AS query_id, s.sub, c.cid,
        |         round(list_inner_product(s.se, s.se)
        |           - 2*list_inner_product(s.se, c.ce)
        |           + list_inner_product(c.ce, c.ce), 6) AS qd2
        |       FROM sub s JOIN cb c USING (sub) WHERE s.vec_id % 25 = 0),
        |adc AS (SELECT q.query_id, k.vec_id AS nb_id,
        |               round(sum(q.qd2), 6) AS adist
        |        FROM codes k JOIN qd q ON k.sub = q.sub AND k.cid = q.cid
        |        WHERE k.vec_id <> q.query_id
        |        GROUP BY q.query_id, k.vec_id),
        |short AS (SELECT query_id, nb_id FROM (
        |  SELECT query_id, nb_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY adist ASC, nb_id) AS rk FROM adc) WHERE rk <= 10),
        |scored AS (SELECT s.query_id, s.nb_id,
        |             round(list_cosine_similarity(qe.e, ne.e), 6) AS cos
        |           FROM short s
        |           JOIN e qe ON qe.vec_id = s.query_id
        |           JOIN e ne ON ne.vec_id = s.nb_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "llm_ann_ivf_incr" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |co AS (SELECT vec_id, e FROM e WHERE vec_id % 25 <> 0),
        |c AS (SELECT vec_id AS cent_id, e AS ec FROM co WHERE vec_id % 40 = 0),
        |ab AS (SELECT v.vec_id,
        |       arg_max(c.cent_id, $ASSIGN_KEY) AS cent_id
        |       FROM co v CROSS JOIN c GROUP BY v.vec_id),
        |aq AS (SELECT vec_id, cent_id FROM (
        |  SELECT v.vec_id, c.cent_id,
        |         row_number() OVER (PARTITION BY v.vec_id
        |           ORDER BY round(list_cosine_similarity(v.e, c.ec), 6) DESC,
        |                    c.cent_id) AS r
        |  FROM e v CROSS JOIN c WHERE v.vec_id % 25 = 0) WHERE r <= 2),
        |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS nb_id,
        |                  round(list_cosine_similarity(qe.e, be.e), 6) AS cos
        |           FROM aq q JOIN ab b USING (cent_id)
        |           JOIN e qe ON qe.vec_id = q.vec_id
        |           JOIN e be ON be.vec_id = b.vec_id
        |           WHERE b.vec_id <> q.vec_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // two Lloyd rounds replayed in SQL: assign (round-6dp cosine,
    // cent_id tie-break) → per-dimension mean → empty clusters keep
    // their previous centroid; then the llm_ann_ivf probe shape
    "llm_ann_ivf_kmeans" -> (KMEANS_CTE +
      """, aq AS (SELECT vec_id, cent_id FROM (
        |  SELECT v.vec_id, c.cent_id,
        |         row_number() OVER (PARTITION BY v.vec_id
        |           ORDER BY round(list_cosine_similarity(v.e, c.ec), 6) DESC,
        |                    c.cent_id) AS r
        |  FROM e v CROSS JOIN c2 c WHERE v.vec_id % 25 = 0) WHERE r <= 2),
        |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS nb_id,
        |                  round(list_cosine_similarity(qe.e, be.e), 6) AS cos
        |           FROM aq q JOIN ab b USING (cent_id)
        |           JOIN e qe ON qe.vec_id = q.vec_id
        |           JOIN e be ON be.vec_id = b.vec_id
        |           WHERE b.vec_id <> q.vec_id)
        |SELECT query_id, rank, nb_id, cos FROM (
        |  SELECT query_id, nb_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos DESC, nb_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    "llm_jl_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |m AS (SELECT vec_id, j, CAST(round(e[j+1] * 1e6) AS BIGINT) AS m
        |      FROM e, range(64) rj(j))
        |SELECT vec_id, p,
        |       CAST(sum(CASE WHEN ((p * 2654435761 + j * 40503) >> 7) & 1 = 1
        |                     THEN m ELSE -m END) AS BIGINT) AS coord
        |FROM m, range(16) rp(p)
        |GROUP BY vec_id, p
        |ORDER BY vec_id, p""".stripMargin,
    // SemDeDup tail over the same two-round k-means assignment:
    // within-cluster pairs over threshold drop the larger id
    "llm_semdedup" -> (KMEANS_CTE +
      """, pr AS (SELECT DISTINCT y.vec_id AS vb
        |       FROM ab x JOIN ab y ON x.cent_id = y.cent_id
        |                          AND x.vec_id < y.vec_id
        |       JOIN e ea ON ea.vec_id = x.vec_id
        |       JOIN e eb ON eb.vec_id = y.vec_id
        |       WHERE round(list_cosine_similarity(ea.e, eb.e), 6) >= 0.30)
        |SELECT ab.vec_id, ab.cent_id AS cluster,
        |       CAST(CASE WHEN pr.vb IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS keep
        |FROM ab LEFT JOIN pr ON ab.vec_id = pr.vb
        |ORDER BY ab.vec_id""".stripMargin),
    "llm_lang_id" ->
      """WITH sc AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |            FROM documents),
        |s2 AS (SELECT doc_id,
        |  (CASE WHEN list_contains(w,'der') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'die') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'und') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'das') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'ein') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'in') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'ist') THEN 1 ELSE 0 END) AS s_de,
        |  (CASE WHEN list_contains(w,'the') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'a') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'of') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'and') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'in') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'to') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'is') THEN 1 ELSE 0 END) AS s_en,
        |  (CASE WHEN list_contains(w,'el') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'la') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'de') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'que') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'y') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'en') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'un') THEN 1 ELSE 0 END) AS s_es,
        |  (CASE WHEN list_contains(w,'le') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'la') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'de') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'et') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'un') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'en') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'est') THEN 1 ELSE 0 END) AS s_fr,
        |  (CASE WHEN list_contains(w,'的') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'是') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'不') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'了') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'在') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'人') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(w,'有') THEN 1 ELSE 0 END) AS s_zh
        |  FROM sc)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
        |        AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |        AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr
        |        AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es
        |        AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "llm_gopher_rules" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1,
        |         '# # # # # # # # # # # # ' || upper(text)
        |  FROM documents),
        |wt AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |       FROM corpus),
        |st AS (SELECT doc_id, len(w) AS nw,
        |         list_sum(list_transform(w, x -> length(x))) AS slen,
        |         len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |           AS alpha,
        |         len(list_filter(w, x -> list_contains(
        |           ['the','a','of','and','in','to','is'], x))) AS stop,
        |         len(list_filter(w,
        |           x -> x = '...' OR starts_with(x, '#'))) AS sym
        |       FROM wt),
        |r AS (SELECT doc_id,
        |        CAST(nw >= 10 AND nw <= 1000 AS BIGINT) AS r_wordcount,
        |        CAST(slen * 1.0 / nw >= 3.0
        |             AND slen * 1.0 / nw <= 10.0 AS BIGINT) AS r_meanlen,
        |        CAST(alpha * 10 >= nw * 8 AS BIGINT) AS r_alpha,
        |        CAST(stop >= 2 AS BIGINT) AS r_stopwords,
        |        CAST(sym * 10 <= nw AS BIGINT) AS r_symbols
        |      FROM st)
        |SELECT doc_id, r_wordcount, r_meanlen, r_alpha, r_stopwords,
        |       r_symbols,
        |       CAST(r_wordcount + r_meanlen + r_alpha + r_stopwords
        |            + r_symbols = 5 AS BIGINT) AS pass
        |FROM r ORDER BY doc_id""".stripMargin,
    "llm_text_quality" ->
      """WITH q AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |m AS (SELECT doc_id, text, len(w) AS n,
        |             len(list_distinct(w)) AS nu,
        |             list_sum(list_transform(w, x -> len(x))) AS toklen,
        |             len(list_filter(w, x -> list_contains(
        |               ['the','a','of','and','in','to','is'], x))) AS stopn,
        |             len(regexp_replace(text, '[^a-z]', '', 'g')) AS letters
        |      FROM q)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       round(toklen*1.0/n, 6) AS avg_token_len,
        |       round(stopn*1.0/n, 6) AS stop_ratio,
        |       round(letters*1.0/len(text), 6) AS alpha_ratio,
        |       round(0.4*least(1.0, n/50.0) + 0.3*(1.0 - stopn*1.0/n)
        |             + 0.3*(nu*1.0/n), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "llm_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             unnest(generate_series(1, greatest(len(w), 1), 16))
        |               AS start
        |      FROM t)
        |SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS chunk_idx,
        |       CAST(len(w[start:least(start + 31, len(w))]) AS BIGINT)
        |         AS n_tokens,
        |       ('0x' || substr(md5(array_to_string(
        |           w[start:least(start + 31, len(w))], ' ')), 1, 15))::BIGINT
        |         AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
        |         AS re_tokens,
        |       CAST(ceil(len(text)/4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_bpe_merges" ->
      """WITH words AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(trim(text), ' ')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |e0 AS (SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS enc,
        |              freq FROM words),
        |p1 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e0))
        |       GROUP BY 1, 2),
        |w1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |e1 AS (SELECT replace(enc,
        |         ' ' || (SELECT l FROM w1) || '  ' || (SELECT r FROM w1) || ' ',
        |         ' ' || (SELECT l || r FROM w1) || ' ') AS enc, freq FROM e0),
        |p2 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e1))
        |       GROUP BY 1, 2),
        |w2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |e2 AS (SELECT replace(enc,
        |         ' ' || (SELECT l FROM w2) || '  ' || (SELECT r FROM w2) || ' ',
        |         ' ' || (SELECT l || r FROM w2) || ' ') AS enc, freq FROM e1),
        |p3 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e2))
        |       GROUP BY 1, 2),
        |w3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, l AS lhs, r AS rhs, cnt FROM w1
        |UNION ALL SELECT 2, l, r, cnt FROM w2
        |UNION ALL SELECT 3, l, r, cnt FROM w3
        |ORDER BY round""".stripMargin,
    "llm_bpe_encode" ->
      """WITH words AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(trim(text), ' ')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |e0 AS (SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS enc,
        |              freq FROM words),
        |p1 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e0))
        |       GROUP BY 1, 2),
        |w1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |e1 AS (SELECT replace(enc,
        |         ' ' || (SELECT l FROM w1) || '  ' || (SELECT r FROM w1) || ' ',
        |         ' ' || (SELECT l || r FROM w1) || ' ') AS enc, freq FROM e0),
        |p2 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e1))
        |       GROUP BY 1, 2),
        |w2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |e2 AS (SELECT replace(enc,
        |         ' ' || (SELECT l FROM w2) || '  ' || (SELECT r FROM w2) || ' ',
        |         ' ' || (SELECT l || r FROM w2) || ' ') AS enc, freq FROM e1),
        |p3 AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |       FROM (SELECT freq,
        |               unnest(list_transform(generate_series(1, len(t) - 1),
        |                 i -> {'l': t[i], 'r': t[i + 1]})) AS p
        |             FROM (SELECT freq, string_split(trim(enc), '  ') AS t
        |                   FROM e2))
        |       GROUP BY 1, 2),
        |w3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |e3 AS (SELECT replace(enc,
        |         ' ' || (SELECT l FROM w3) || '  ' || (SELECT r FROM w3) || ' ',
        |         ' ' || (SELECT l || r FROM w3) || ' ') AS enc, freq FROM e2)
        |SELECT token, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(trim(enc), '  ')) AS token, freq
        |  FROM e3)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "llm_vocab_topk" ->
      """WITH tok AS (SELECT doc_id,
        |                    unnest(string_split(trim(text), ' ')) AS token
        |             FROM documents),
        |per AS (SELECT doc_id, token, count(*) AS c FROM tok
        |        WHERE token <> '' GROUP BY doc_id, token)
        |SELECT token, CAST(sum(c) AS BIGINT) AS freq,
        |       CAST(count(*) AS BIGINT) AS doc_freq
        |FROM per GROUP BY token
        |ORDER BY freq DESC, token LIMIT 100""".stripMargin,
    "llm_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |             FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(w[1:len(w)-3]) || ' ' || unnest(w[2:len(w)-2])
        |           || ' ' || unnest(w[3:len(w)-1]) || ' ' ||
        |           unnest(w[4:len(w)]) AS s
        |       FROM tok WHERE len(w) >= 4)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
        |       round(1.0 - count(DISTINCT s) * 1.0 / count(*), 6)
        |         AS rep_ratio
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_dup_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |             FROM documents),
        |tt AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) >= 8),
        |g AS (SELECT doc_id, n, i AS pos,
        |        ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))
        |          ::BIGINT AS gh
        |      FROM (SELECT doc_id, n, w,
        |              unnest(generate_series(1, n - 7)) AS i
        |            FROM tt)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
        |        FROM (SELECT DISTINCT doc_id, pos + o AS p
        |              FROM ds, generate_series(0, 7) AS go(o))
        |        GROUP BY doc_id),
        |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |       FROM ds GROUP BY doc_id)
        |SELECT tt.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       COALESCE(n_dup, 0) AS n_dup,
        |       COALESCE(covered, 0) AS covered,
        |       round(COALESCE(covered, 0) * 1.0 / n, 6) AS dup_ratio
        |FROM tt LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "llm_dup_spans_incr" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |             FROM documents),
        |tt AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) >= 8),
        |g AS (SELECT doc_id, n, i AS pos,
        |        ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))
        |          ::BIGINT AS gh
        |      FROM (SELECT doc_id, n, w,
        |              unnest(generate_series(1, n - 7)) AS i
        |            FROM tt)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)
        |       WHERE doc_id % 5 = 0),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
        |        FROM (SELECT DISTINCT doc_id, pos + o AS p
        |              FROM ds, generate_series(0, 7) AS go(o))
        |        GROUP BY doc_id),
        |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |       FROM ds GROUP BY doc_id)
        |SELECT tt.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       COALESCE(n_dup, 0) AS n_dup,
        |       COALESCE(covered, 0) AS covered,
        |       round(COALESCE(covered, 0) * 1.0 / n, 6) AS dup_ratio
        |FROM tt LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
        |WHERE tt.doc_id % 5 = 0
        |ORDER BY tt.doc_id""".stripMargin,
    "llm_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS pos,
        |        ('0x' || substr(md5(array_to_string(
        |            w[start:least(start + 15, len(w))], ' ')), 1, 15))
        |          ::BIGINT AS bh,
        |        CAST(least(len(w) - start + 1, 16) AS BIGINT) AS btok
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, greatest(len(w), 1), 16))
        |                AS start
        |            FROM t)),
        |f AS (SELECT bh, min({'d': doc_id, 'p': pos}) AS fk
        |      FROM b GROUP BY bh)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(CASE WHEN doc_id = struct_extract(fk, 'd')
        |                      AND pos = struct_extract(fk, 'p')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |       CAST(sum(CASE WHEN doc_id = struct_extract(fk, 'd')
        |                      AND pos = struct_extract(fk, 'p')
        |                     THEN btok ELSE 0 END) AS BIGINT)
        |         AS kept_tokens
        |FROM b JOIN f USING (bh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_cluster_sample" -> (KMEANS_CTE +
      """, kk AS (SELECT vec_id, cent_id AS cluster,
        |           ('0x' || substr(md5('cs:' || vec_id), 1, 15))::BIGINT
        |             AS coin
        |         FROM ab),
        |r AS (SELECT cluster, vec_id,
        |        CAST(row_number() OVER (PARTITION BY cluster
        |               ORDER BY coin, vec_id) AS BIGINT) AS rank
        |      FROM kk)
        |SELECT cluster, rank, vec_id FROM r WHERE rank <= 5
        |ORDER BY cluster, rank""".stripMargin),
    "llm_quality_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |             FROM documents),
        |bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
        |              unnest(w[2:len(w)]) AS w2
        |       FROM tok WHERE len(w) >= 2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg
        |        GROUP BY w1, w2),
        |probs AS (SELECT c.w1, c.w2, c.n12 * 1.0 / t.n1 AS p
        |          FROM c12 c JOIN (SELECT w1, CAST(sum(n12) AS BIGINT)
        |                             AS n1 FROM c12 GROUP BY w1) t
        |          USING (w1))
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(-ln(p.p)), 6) AS nll
        |FROM bg b JOIN probs p USING (w1, w2)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "llm_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |             FROM documents),
        |bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
        |              unnest(w[2:len(w)]) AS w2
        |       FROM tok WHERE len(w) >= 2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg
        |        GROUP BY w1, w2),
        |probs AS (SELECT c.w1, c.w2, c.n12 * 1.0 / t.n1 AS p
        |          FROM c12 c JOIN (SELECT w1, CAST(sum(n12) AS BIGINT)
        |                             AS n1 FROM c12 GROUP BY w1) t
        |          USING (w1)),
        |scored AS (SELECT b.doc_id, round(avg(-ln(p.p)), 6) AS nll
        |           FROM bg b JOIN probs p USING (w1, w2)
        |           GROUP BY b.doc_id),
        |n AS (SELECT count(*) AS n FROM scored),
        |ranked AS (SELECT doc_id, nll,
        |             row_number() OVER (ORDER BY round(nll * 1e6), doc_id)
        |               AS r
        |           FROM scored)
        |SELECT doc_id, nll,
        |       CASE ((r - 1) * 3) // n.n WHEN 0 THEN 'head'
        |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked CROSS JOIN n ORDER BY doc_id""".stripMargin,
    "llm_pmi_cooccur" ->
      """WITH tok AS (SELECT string_split(trim(text), ' ') AS w
        |             FROM documents),
        |s1 AS (SELECT unnest(w[1:len(w)-1]) AS x, unnest(w[2:len(w)]) AS y
        |       FROM tok WHERE len(w) > 1),
        |s2 AS (SELECT unnest(w[1:len(w)-2]) AS x, unnest(w[3:len(w)]) AS y
        |       FROM tok WHERE len(w) > 2),
        |prs AS (SELECT least(x, y) AS a, greatest(x, y) AS b
        |        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |        WHERE x <> y),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM prs
        |        GROUP BY a, b),
        |toks AS (SELECT t, CAST(count(*) AS BIGINT) AS c_t FROM (
        |           SELECT unnest(w) AS t FROM tok)
        |         WHERE t <> '' GROUP BY t),
        |tot AS (SELECT (SELECT sum(c_ab) FROM cab) AS pair_total,
        |               (SELECT sum(c_t) FROM toks) AS tok_total),
        |res AS (SELECT cab.a, cab.b, cab.c_ab,
        |          round(ln((c_ab * 1.0 / pair_total) /
        |            ((ta.c_t * 1.0 / tok_total)
        |             * (tb.c_t * 1.0 / tok_total))), 6) AS pmi
        |        FROM cab JOIN toks ta ON cab.a = ta.t
        |                 JOIN toks tb ON cab.b = tb.t
        |                 CROSS JOIN tot
        |        WHERE c_ab >= 5)
        |SELECT a, b, c_ab, pmi FROM res
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "llm_ngram_lm" ->
      """WITH tok AS (SELECT string_split(trim(text), ' ') AS w
        |             FROM documents),
        |bg AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |       FROM tok WHERE len(w) >= 2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg
        |        GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12
        |       GROUP BY w1),
        |top AS (SELECT w1, n1 FROM c1 ORDER BY n1 DESC, w1 LIMIT 20),
        |r AS (SELECT c.w1, c.w2, c.n12, round(c.n12 * 1.0 / t.n1, 6) AS p,
        |        CAST(row_number() OVER (PARTITION BY c.w1
        |          ORDER BY c.n12 DESC, c.w2) AS BIGINT) AS rk
        |      FROM c12 c JOIN top t USING (w1))
        |SELECT w1, rk, w2, n12, p FROM r WHERE rk <= 3
        |ORDER BY w1, rk""".stripMargin,
    "llm_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id,
        |                    unnest(string_split(trim(text), ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token <> '' GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token,
        |                  round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
        |           FROM tf JOIN df USING (token) CROSS JOIN n),
        |ranked AS (SELECT doc_id, token, tfidf,
        |                  CAST(row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, token) AS BIGINT) AS rk
        |           FROM scored)
        |SELECT doc_id, rk, token, tfidf FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "llm_bm25_topk" ->
      """WITH lens AS (SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
        |tok AS (SELECT doc_id,
        |    unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token IN ('merge', 'scan', 'window') GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (SELECT doc_id, round(sum(contrib), 6) AS score FROM (
        |    SELECT tf.doc_id, round(
        |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |        * (tf * 2.2) /
        |        (tf + 1.2 * (0.25 + 0.75 * dl / (total_dl * 1.0 / n_docs))),
        |      6) AS contrib
        |    FROM tf JOIN df USING (token) JOIN lens USING (doc_id)
        |    CROSS JOIN stats)
        |  GROUP BY doc_id),
        |ranked AS (SELECT
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |      AS rank, doc_id, score
        |  FROM scored)
        |SELECT rank, doc_id, score FROM ranked
        |WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "llm_domain_mix" ->
      s"""WITH strata AS (SELECT source, lang, count(*) AS n_docs
        |  FROM documents GROUP BY source, lang),
        |z AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM strata),
        |w AS (SELECT source, lang, n_docs,
        |    round(pow(n_docs, 0.5) / z.z, 6) AS weight
        |  FROM strata CROSS JOIN z),
        |wq AS (SELECT source, lang, n_docs, weight,
        |    CAST(floor(weight * 200) AS BIGINT) AS quota,
        |    CAST(floor(least(1.0, weight * 200 / n_docs) * 1000000)
        |      AS BIGINT) AS p_ppm
        |  FROM w),
        |sampled AS (SELECT d.source, d.lang, count(*) AS n_sampled
        |  FROM documents d JOIN wq USING (source, lang)
        |  WHERE ${h("d.text")} % 1000000 < p_ppm
        |  GROUP BY d.source, d.lang)
        |SELECT source, lang, n_docs, weight, quota,
        |  CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled
        |FROM wq LEFT JOIN sampled USING (source, lang)
        |ORDER BY source, lang""".stripMargin,
    "llm_split_stable" ->
      s"""WITH d AS (SELECT doc_id, text, ${h("text")} AS h FROM documents),
        |sp AS (SELECT doc_id, text, h,
        |    CASE WHEN h % 1000000 < 800000 THEN 'train'
        |         WHEN h % 1000000 < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM d),
        |leaked AS (SELECT h FROM sp GROUP BY h
        |           HAVING count(DISTINCT split) > 1),
        |leaks AS (SELECT split, count(DISTINCT h) AS n_leaked_hashes
        |  FROM sp WHERE h IN (SELECT h FROM leaked) GROUP BY split),
        |stats AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM sp GROUP BY split)
        |SELECT split, n_docs, n_tokens,
        |  CAST(coalesce(n_leaked_hashes, 0) AS BIGINT) AS n_leaked_hashes
        |FROM stats LEFT JOIN leaks USING (split)
        |ORDER BY split""".stripMargin,
    "llm_pii_scrub" ->
      """WITH dirty AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com ref '
        |       || CAST(doc_id * 9999991 + 12345 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_ids,
        |  regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<ID>', 'g') AS scrubbed
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "llm_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 32 AS stream FROM documents),
        |c AS (SELECT doc_id, n_tokens, stream,
        |    CAST(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS BIGINT) AS start_off
        |  FROM t)
        |SELECT doc_id, n_tokens, stream, start_off,
        |  CAST(stream * 1000000000000 + start_off // 4096 AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "llm_fingerprint" ->
      (s"""SELECT doc_id,
        |       list_reduce(
        |         list_prepend(0::BIGINT,
        |           list_transform(string_split(trim(text), ' '),
        |             x -> ${h("x")} % 1000000007)),
        |         (a, b) -> (a*31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    "llm_pipeline" -> (DOC_CTE +
      s""", sh0 AS (SELECT doc_id, s, ${h("s")} % 1000000007 AS h0 FROM sh),
        |mh AS (SELECT doc_id, i,
        |         min((h0 * (i*2+1) + i*999983) % 1000000007) AS mh
        |       FROM sh0, range(16) r(i) GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS b,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
        |          FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |common AS (SELECT da, db, count(*) AS common FROM cand
        |           JOIN sh sa ON sa.doc_id = da
        |           JOIN sh sb ON sb.doc_id = db AND sb.s = sa.s
        |           GROUP BY da, db),
        |losers AS (
        |  SELECT DISTINCT db AS doc_id FROM common
        |  JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |  WHERE common*1.0/(ca.n+cb.n-common) >= 0.8),
        |kept AS (
        |  SELECT d.doc_id, d.lang, string_split(trim(d.text), ' ') AS w
        |  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM losers))
        |SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n,
        |       round(len(list_distinct(w))*1.0/len(w), 6) AS uniq_ratio
        |FROM kept
        |WHERE len(w) >= 20 AND len(w) <= 95
        |  AND len(list_distinct(w))*1.0/len(w) >= 0.25
        |ORDER BY doc_id""".stripMargin),
    "llm_frames" ->
      """WITH f AS (
        |  SELECT doc_id, 0 AS fi, ('0x'||substr(md5(text),1,2))::BIGINT AS lb
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, ('0x'||substr(md5(text||'b'),1,2))::BIGINT
        |  FROM documents)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx, lb AS lead_byte,
        |       round(lb/255.0, 6) AS f1
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "llm_multimodal" ->
      """SELECT doc_id,
        |       1 + ('0x'||substr(md5(text),1,2))::BIGINT AS width,
        |       1 + ('0x'||substr(md5(text),3,2))::BIGINT AS height,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS BIGINT)
        |         AS channels,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |         ELSE 'gif' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_png_features" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 6 AS w, 1 + doc_id % 6 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id,
        |              (d.doc_id*5 + t.i*23) % 256 AS r,
        |              (d.doc_id*13 + t.i*29) % 256 AS g,
        |              (d.doc_id*7 + t.i*31) % 256 AS b
        |       FROM d JOIN generate_series(0, 35) AS t(i)
        |         ON t.i < d.w*d.h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |       round(sum(r)*1.0/count(*), 6) AS mean_r,
        |       round(sum(g)*1.0/count(*), 6) AS mean_g,
        |       round(sum(b)*1.0/count(*), 6) AS mean_b,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l0,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 1
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l1,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 2
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l2,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 3
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l3,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 4
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l4,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 5
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l5,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 6
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l6,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 7
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l7
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_bmp_features" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id,
        |              (d.doc_id*7 + t.i*13) % 256 AS r,
        |              (d.doc_id*11 + t.i*17) % 256 AS g,
        |              (d.doc_id*3 + t.i*19) % 256 AS b
        |       FROM d JOIN generate_series(0, 34) AS t(i)
        |         ON t.i < d.w*d.h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |       round(sum(r)*1.0/count(*), 6) AS mean_r,
        |       round(sum(g)*1.0/count(*), 6) AS mean_g,
        |       round(sum(b)*1.0/count(*), 6) AS mean_b,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l0,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 1
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l1,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 2
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l2,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 3
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l3,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 4
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l4,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 5
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l5,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 6
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l6,
        |       CAST(sum(CASE WHEN (299*r+587*g+114*b)//1000//32 = 7
        |                THEN 1 ELSE 0 END) AS BIGINT) AS l7
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
