package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder-prompt north-star).
  *
  * Baseline: brute-force cosine top-k (exact; O(Q·N) dot products — the
  * verifier and small-N path). Scale path: sign-random-projection LSH —
  * each vector lands in a bucket keyed by the sign pattern of `planes`
  * pseudo-random ±1 hyperplanes, the candidate join is bucket-local, and
  * recall is tuned by planes/probes. An IVF variant is the same shape
  * with learned centroids instead of hyperplanes.
  *
  * All math in double precision with sequential (array-ordered)
  * summation — deterministic and engine-portable for the oracle.
  */
object Similarity {

  /** Sequential-dot-product cosine between two array<double> columns. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val na = sqrt(aggregate(a, lit(0.0), (s, x) => s + x * x))
    val nb = sqrt(aggregate(b, lit(0.0), (s, x) => s + x * x))
    dot / (na * nb)
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Native tight-loop dot product / norm (GraftExpressions.DotProduct,
    * VecNorm) — same sequential summation as aggregate(zip_with(...)),
    * bit-identical results, ~an order of magnitude less per-element
    * overhead than interpreted higher-order lambdas. Referenced through
    * the function registry (registered per session). */
  private def dotExpr(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** (id, e, norm) with norms computed once — at N vectors the pairwise
    * stage then does one dot product per pair instead of three array
    * reductions (3× less work in the O(N²)/bucketed hot path). */
  private def prepared(emb: DataFrame, idAlias: String): DataFrame = {
    graft.functions.GraftExpressions.register(emb.sparkSession)
    // single-file sources arrive as one partition; fan out so the
    // pairwise stage parallelizes. Conditional and plan-cheap — see
    // [[Fanout]].
    Fanout.spread(emb)
      .select(col("vec_id").as(idAlias), asDouble(col("embedding")).as("e"))
      .withColumn("nrm", expr("graft_vec_norm(e)"))
  }

  /** Hard cap on the corpus side of any brute-force (all-pairs) path.
    * The exact forms are verifiers/small-N baselines ONLY — O(N²) work
    * is a scale-killer, so they refuse to run past this size rather
    * than silently melt a cluster; the bucketed paths (`lshTopK`,
    * `ivfTopK`, `lshCosinePairs`) are the production shape. */
  val BruteForceMaxRows = 1000000L

  private def guardBruteForce(df: DataFrame, what: String): Unit = {
    // limit(cap+1).count() touches at most cap+1 rows — cheap vs the O(N²)
    // job it gates.
    val n = df.limit((BruteForceMaxRows + 1).toInt).count()
    require(n <= BruteForceMaxRows,
      s"$what is an exact all-pairs baseline capped at $BruteForceMaxRows rows; " +
        s"use the LSH/IVF bucketed variant at scale")
  }

  /** Exact brute-force top-k neighbors for the query subset. Ranking on
    * round(cos, 6) with id tie-break → deterministic. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    guardBruteForce(emb, "bruteForceTopK")
    val base = prepared(emb, "nb_id")
      .select(col("nb_id"), col("e").as("eb"), col("nrm").as("nb"))
    val q = prepared(queries, "query_id")
      .select(col("query_id"), col("e").as("ea"), col("nrm").as("na"))
    val scored = q.crossJoin(base)
      .filter(col("query_id") =!= col("nb_id"))
      .withColumn("cos",
        round(dotExpr("ea", "eb") / (col("na") * col("nb")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), col("cos"))
  }

  /** Pseudo-random ±1 weight for (plane p, dimension j) — pure
    * arithmetic so any engine reproduces it. */
  def planeWeight(p: Column, j: Column): Column =
    when(shiftright(p * 2654435761L + j * 40503L, 7).bitwiseAND(lit(1L)) === 1L,
      lit(1.0)).otherwise(lit(-1.0))

  /** Sign-LSH bucket id from `planes` hyperplanes — one native pass per
    * vector (GraftExpressions.LshBucket), no explode/aggregation. */
  def lshBuckets(emb: DataFrame, planes: Int): DataFrame = {
    graft.functions.GraftExpressions.register(emb.sparkSession)
    emb.select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .select(col("vec_id"), expr(s"graft_lsh_bucket(e, $planes)").as("bucket"))
  }

  /** Bucket-local ANN: top-k within the query's LSH bucket. */
  def lshTopK(emb: DataFrame, queries: DataFrame, planes: Int, k: Int): DataFrame = {
    val buckets = lshBuckets(emb, planes)
    val base = prepared(emb, "nb_id").join(
        buckets.withColumnRenamed("vec_id", "nb_id"), Seq("nb_id"))
      .select(col("nb_id"), col("e").as("eb"), col("nrm").as("nb"), col("bucket"))
    val q = prepared(queries, "query_id").join(
        buckets.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
      .select(col("query_id"), col("e").as("ea"), col("nrm").as("na"),
        col("bucket"))
    val scored = q.join(base, Seq("bucket"))
      .filter(col("query_id") =!= col("nb_id"))
      .withColumn("cos",
        round(dotExpr("ea", "eb") / (col("na") * col("nb")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), col("cos"))
  }

  /** IVF (inverted-file) ANN: vectors are bucketed by their nearest
    * centroid; a query searches only its top-`nprobe` centroid buckets.
    * Centroids here are a deterministic stride-sample of the corpus
    * (`vec_id % stride == 0`) — at scale they'd come from k-means, but
    * the index/search shape (C-way assignment join, bucket-local
    * scoring) is identical. Complements `lshTopK`: IVF adapts to the
    * data distribution, LSH is data-independent. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, stride: Int,
              k: Int, nprobe: Int = 1): DataFrame = {
    val cents = ivfCentroids(emb, stride)
    ivfProbe(cents, ivfIndex(emb, cents), queries, k, nprobe)
  }

  /** Stride-sampled centroids (the deterministic seed set; refine with
    * [[kmeansCentroids]]), prepared for cosine scoring. Small by
    * construction — always broadcast. */
  def ivfCentroids(emb: DataFrame, stride: Int): DataFrame =
    prepared(emb.filter(col("vec_id") % stride === 0), "cent_id")
      .select(col("cent_id"), col("e").as("ec"), col("nrm").as("nc"))

  /** Spherical k-means refinement of the stride-seeded centroids:
    * `iters` Lloyd rounds, each = one broadcast-assign pass over the
    * corpus + one element-wise mean per cluster. Cosine scoring is
    * scale-invariant, so the un-normalized mean IS the spherical-k-means
    * update (the per-round objective Σ cos(v, assigned centroid) is
    * non-decreasing — pinned by spec). Deterministic: assignment
    * tie-breaks on (rounded cos, cent_id); the mean explodes by
    * dimension and re-assembles sorted by position, so no FP-order
    * drift. Each round shuffles (corpus × dims) rows keyed by
    * (cluster, dim) — the standard distributed-k-means shape; the
    * centroid set itself never leaves broadcast size. A cluster that
    * loses all members keeps its previous centroid (no dropouts, k is
    * stable). */
  def kmeansCentroids(emb: DataFrame, stride: Int, iters: Int): DataFrame = {
    var cents = graft.Materialize.cut(ivfCentroids(emb, stride))
    val corpus = prepared(emb, "vec_id")
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(corpus, "vec_id", 1, cents)
      val means = assigned
        .select(col("cent_id"), posexplode(col("e")).as(Seq("j", "x")))
        .groupBy(col("cent_id"), col("j")).agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
        .select(col("cent_id"), transform(col("jm"), _.getField("m")).as("ec"))
        .withColumn("nc", expr("graft_vec_norm(ec)"))
      // empty clusters keep their previous centroid
      cents = graft.Materialize.cut(
        cents.select(col("cent_id"), col("ec").as("ec0"), col("nc").as("nc0"))
          .join(means, Seq("cent_id"), "left_outer")
          .select(col("cent_id"),
            coalesce(col("ec"), col("ec0")).as("ec"),
            coalesce(col("nc"), col("nc0")).as("nc")))
    }
    cents
  }

  /** The persistable IVF index: every corpus vector assigned to its
    * nearest centroid — `(nb_id, eb, nb, cent_id)`. Building it is one
    * broadcast-centroid scoring pass over the corpus; at 100 TB this is
    * what lives on disk between query batches (bucketed by cent_id for
    * co-located probe joins), so a query batch never re-assigns the
    * corpus — the IVF sibling of the minhash band index. */
  def ivfIndex(emb: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(prepared(emb, "nb_id"), "nb_id", 1, cents)
      .select(col("nb_id"), col("e").as("eb"), col("nrm").as("nb"),
        col("cent_id"))

  private def ivfAssign(df: DataFrame, idCol: String, probes: Int,
                        cents: DataFrame): DataFrame = {
    // 6-dp rounding before the argmax: assignment must be decided on
    // a value both engines (and any FP summation order) agree on, or
    // a sub-ulp difference flips a centroid and changes whole buckets
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("csim",
        round(dotExpr("e", "ec") / (col("nrm") * col("nc")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("csim").desc, col("cent_id").asc)
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= probes)
      .drop("ec", "nc", "csim", "r")
  }

  /** Search `queries` against a prebuilt centroid set + index: each
    * query assigns to its top-`nprobe` centroids (broadcast pass), then
    * scores bucket-locally — the incremental-ingest ANN path: the
    * corpus index never recomputes for a query batch. */
  def ivfProbe(cents: DataFrame, index: DataFrame, queries: DataFrame,
               k: Int, nprobe: Int): DataFrame = {
    val q = ivfAssign(prepared(queries, "query_id"), "query_id", nprobe, cents)
      .select(col("query_id"), col("e").as("ea"), col("nrm").as("na"),
        col("cent_id"))
    val scored = q.join(index, Seq("cent_id"))
      .filter(col("query_id") =!= col("nb_id"))
      .withColumn("cos",
        round(dotExpr("ea", "eb") / (col("na") * col("nb")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), col("cos"))
  }

  /** Per-subspace view of a vector set: `(id, sub, se, nse)` — the
    * vector sliced into `m` contiguous sub-vectors with their squared
    * norms precomputed (one native dot per slice). */
  private[llm] def pqSubspaces(emb: DataFrame, idAlias: String,
                          m: Int, subDim: Int): DataFrame =
    prepared(emb, idAlias)
      .select(col(idAlias), posexplode(array((0 until m).map(i =>
        slice(col("e"), i * subDim + 1, subDim)): _*)).as(Seq("sub", "se")))
      .withColumn("nse", expr("graft_dot(se, se)"))

  /** PQ codebook: per subspace, the sub-vectors of the deterministic
    * stride sample (`vec_id % stride == 0`, dense ids `vec_id/stride`),
    * CAPPED at `maxCentroids` — a PQ codebook is fixed-K by definition
    * (the codes must fit a small integer), so its size is bounded by
    * construction and never grows with the corpus. The third ANN
    * family's index seed (k-means would refine it the same way
    * [[kmeansCentroids]] refines IVF's); always broadcast. */
  def pqCodebook(emb: DataFrame, stride: Int, m: Int, subDim: Int,
                 maxCentroids: Int = 64): DataFrame =
    pqSubspaces(emb.filter(col("vec_id") % stride === 0
        && col("vec_id") < stride.toLong * maxCentroids), "src_id", m, subDim)
      .select(expr(s"src_id DIV $stride").as("cid"), col("sub"),
        col("se").as("ce"), col("nse").as("nce"))

  /** PQ encoding: every corpus vector compressed to `m` centroid ids —
    * one broadcast-codebook pass; squared L2 via the dot identity
    * (‖a‖² − 2a·b + ‖b‖²), 6-dp rounded BEFORE the argmin so the code
    * assignment is engine-portable. At 100 TB the codes table (m
    * smallints per vector) is the index that lives on disk — the
    * ~100× compression is the point of PQ. */
  def pqEncode(subs: DataFrame, codebook: DataFrame, idCol: String): DataFrame = {
    val scored = subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("d2",
        round(col("nse") - lit(2.0) * dotExpr("se", "ce") + col("nce"), 6))
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("d2").asc, col("cid").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("sub"), col("cid"), col("d2"))
  }

  /** PQ/ADC search: asymmetric-distance top-k. The query batch builds
    * its per-(subspace, centroid) distance table (Q·m·K rows — always
    * broadcast), the CODES table is scanned and summed per (query,
    * vector) — the corpus's float vectors are touched only for the
    * `shortlist` exact re-rank, so the scan reads m codes per vector
    * instead of the full embedding. Complements LSH (data-independent
    * hashes) and IVF (coarse partitions): PQ compresses the residual
    * scan itself. */
  def pqTopK(emb: DataFrame, queries: DataFrame, stride: Int, k: Int,
             m: Int = 4, subDim: Int = 16, shortlist: Int = 10): DataFrame = {
    val codebook = pqCodebook(emb, stride, m, subDim)
    val codes = pqEncode(pqSubspaces(emb, "nb_id", m, subDim),
      codebook, "nb_id")
    pqProbe(codebook, codes, emb, queries, k, m, subDim, shortlist)
  }

  /** Build the persistable PQ index for a corpus: `(codebook, codes)`
    * — what lives on disk between query batches (the PQ sibling of
    * [[ivfIndex]] and the minhash band index). */
  def pqIndex(emb: DataFrame, stride: Int, m: Int = 4,
              subDim: Int = 16): (DataFrame, DataFrame) = {
    val codebook = pqCodebook(emb, stride, m, subDim)
    (codebook, pqEncode(pqSubspaces(emb, "nb_id", m, subDim),
      codebook, "nb_id"))
  }

  /** Search a PREBUILT PQ index (codebook + codes): the incremental
    * path — a query batch never re-encodes the standing corpus, it
    * broadcasts its distance table against the persisted codes (the PQ
    * sibling of [[ivfProbe]] and the minhash band-index probe). `emb`
    * supplies the corpus float vectors for the shortlist re-rank only. */
  def pqProbe(codebook: DataFrame, codes: DataFrame, emb: DataFrame,
              queries: DataFrame, k: Int, m: Int = 4, subDim: Int = 16,
              shortlist: Int = 10): DataFrame = {
    val dtable = pqSubspaces(queries, "query_id", m, subDim)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        round(col("nse") - lit(2.0) * dotExpr("se", "ce") + col("nce"), 6)
          .as("qd2"))
    val adc = codes.join(broadcast(dtable), Seq("sub", "cid"))
      .filter(col("nb_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("nb_id"))
      .agg(round(sum(col("qd2")), 6).as("adist"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("nb_id").asc)
    val cand = adc.withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= shortlist).select(col("query_id"), col("nb_id"))
    // exact re-rank of the shortlist: join the float vectors back in
    val base = prepared(emb, "nb_id")
      .select(col("nb_id"), col("e").as("eb"), col("nrm").as("nb"))
    val q = prepared(queries, "query_id")
      .select(col("query_id"), col("e").as("ea"), col("nrm").as("na"))
    val exact = cand.join(base, Seq("nb_id")).join(q, Seq("query_id"))
      .withColumn("cos",
        round(dotExpr("ea", "eb") / (col("na") * col("nb")), 6))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nb_id").asc)
    exact.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).
    * Brute-force form — the exact VERIFIER for [[lshCosinePairs]] and the
    * test-suite baseline, size-capped; the bucketed form is the
    * production entry. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    guardBruteForce(emb, "cosinePairs")
    val a = prepared(emb, "va")
      .select(col("va"), col("e").as("ea"), col("nrm").as("na"))
    val b = prepared(emb, "vb")
      .select(col("vb"), col("e").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cos", dotExpr("ea", "eb") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding-cosine near-dup pairs via multi-band sign-LSH — the
    * 100 TB-shaped path: candidates are pairs colliding in ANY of
    * `bands` independent `planes`-bit sign-LSH buckets (band b uses
    * hyperplanes b·planes..(b+1)·planes-1), then each candidate is
    * verified with the exact cosine. Join cost is bucket-local
    * (Σ bucket² per band), never all-pairs; recall rises with bands
    * exactly like MinHash-LSH banding. Deterministic hyperplanes →
    * engine-portable (the DuckDB oracle replicates the banding). */
  def lshCosinePairs(emb: DataFrame, threshold: Double,
                     planes: Int = 4, bands: Int = 6): DataFrame = {
    val prep = prepared(emb, "vec_id")
    val bandIds = (0 until bands).map(lit(_))
    val bucketed = prep
      .select(col("vec_id"), col("e"), col("nrm"),
        explode(array(bandIds: _*)).as("band"))
      .withColumn("bucket",
        expr(s"graft_lsh_bucket_at(e, $planes, cast(band * $planes as int))"))
    val a = bucketed.select(col("band"), col("bucket"),
      col("vec_id").as("va"), col("e").as("ea"), col("nrm").as("na"))
    val b = bucketed.select(col("band"), col("bucket"),
      col("vec_id").as("vb"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        (dotExpr("ea", "eb") / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("va"), col("vb"))        // dedup multi-band collisions
      .agg(round(first(col("cos")), 6).as("cos"))
      .select(col("va"), col("vb"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — k-means-cluster the embedding space, then prune
    * within-cluster near-duplicates above a cosine threshold, keeping
    * the id-minimal representative of every over-threshold pair (the
    * deterministic keeper policy; the paper's low-centroid-similarity
    * variant plugs in at the same spot). Differs from
    * [[lshCosinePairs]]-based near-dup removal in WHAT it removes:
    * semantic redundancy (same meaning, different words), not
    * near-identical text.
    *
    * Scale shape: the only all-pairs work is INSIDE k-means cells —
    * candidates are Σ cluster², tuned by `stride` exactly like LSH
    * bucket size; assignment/refinement reuse the IVF machinery
    * (broadcast centroids, (cluster, dim)-keyed means). Returns
    * (vec_id, cluster, keep). */
  def semDedup(emb: DataFrame, stride: Int, iters: Int,
      threshold: Double): DataFrame = {
    val cents = kmeansCentroids(emb, stride, iters)
    val idx = ivfIndex(emb, cents) // (nb_id, eb, nb, cent_id)
    val a = idx.select(col("cent_id"), col("nb_id").as("va"),
      col("eb").as("ea"), col("nb").as("na"))
    val b = idx.select(col("cent_id"), col("nb_id").as("vb"),
      col("eb"), col("nb"))
    val dropped = a.join(b, "cent_id").filter(col("va") < col("vb"))
      .withColumn("cos",
        round(dotExpr("ea", "eb") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vb").as("vec_id")).distinct()
    idx.select(col("nb_id").as("vec_id"), col("cent_id").as("cluster"))
      .join(dropped.withColumn("drop", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("drop").isNotNull, 0L).otherwise(1L).as("keep"))
  }
}
