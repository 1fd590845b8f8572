package graft

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` for flagship queries into
  * PLANS.md so plan shape (pushdown, pruning, broadcasts, TakeOrdered)
  * is reviewable and diffable across rounds. Tokens that shift with
  * whatever the JVM ran before a plan, or with an edit to the code
  * that built it, are written without their numbers ([[normalize]]),
  * so a diff of two dumps shows only plan changes.
  *
  * Usage: sbt "runMain graft.ExplainDump [sfDir]"
  */
object ExplainDump {
  private val FLAGSHIPS = Seq(
    "s1_scan_pushdown", "p10_filter_fusion", "j2_lookup_join",
    "j3_merge_join", "tpch_q5", "w6_topk", "a8_dedup_merge",
    "llm_dedup_minhash", "llm_ann_lsh",
    // round 5: DSv2 compacted+live-log merge (BatchScan graft-kv, no
    // Exchange under the resolve window), IVF ANN, contamination scan,
    // temporal joins (single-shuffle as-of merge; bin-bucketed range)
    "s10_kv_merge_read", "llm_ann_ivf", "llm_contamination",
    "j10_asof_join", "j11_range_join",
    // round 6: binned hot-key as-of (work spreads across ts bins),
    // incremental minhash ingest (batch probes the persisted band index),
    // near-dup cluster assignment (pair-graph label propagation)
    "j12_asof_hotkey", "llm_dedup_minhash_incr", "llm_dedup_clusters",
    // vocabulary build: two partial-agg shuffles + TakeOrdered, no Expand;
    // tf-idf: df rollup+join, broadcast N, map-side WindowGroupLimit;
    // packing: one stream-keyed shuffle + streaming running-sum window
    "llm_vocab_topk", "llm_tfidf_topterms", "llm_pack_sequences",
    // round 8: k-means-refined IVF (two Lloyd rounds: broadcast-assign
    // + (cluster,dim)-keyed mean, centroids never leave broadcast size),
    // time-range filter in pushdown shape, EXISTS→semi join, HAVING
    // subquery as an aggregated semi side + TakeOrdered
    "llm_ann_ivf_kmeans", "p6_time_range", "tpch_q4", "tpch_q18",
    // round 8b: the six-table star with every dim broadcast, the
    // single-scan EXISTS/NOT-EXISTS fold, the anti-join dormancy
    // check, the deepest join tree (derived partsupp), the dual-frame
    // single-Window nearest join, the semi-closed triangle count
    "tpch_q8", "tpch_q21", "tpch_q22", "tpch_q9", "j13_nearest_join",
    "g10_triangles",
    // round 8c: cached-edge-layout PageRank, term-filtered BM25 with
    // broadcast stats + post-limit rank, one-shuffle sessionization,
    // PQ codes scan with broadcast ADC tables + shortlist re-rank
    "g11_pagerank", "llm_bm25_topk", "an_sessions", "llm_ann_pq",
    // round 9: keeper election over materialized labels (zero LSH
    // re-derivation), BPE's vocab-sized pair-count round, the
    // materialized symmetric edge list feeding the graph suite
    "llm_dedup_keep_best", "llm_bpe_merges", "g4_bsp_iter3",
    // round 9b: incremental cluster assignment — one probe+verify
    // pipeline over the persisted standing state (m12/st7/st8 execute
    // their mutation/stream eagerly, so their returned plans are just
    // result reads — nothing to pin here)
    "llm_dedup_clusters_incr",
    // round 10: the CDC diff — both cutoff states resolve from one
    // bucketed scan shape, full-outer join co-partitioned with the
    // resolve windows (m15/m16/st9 execute their mutations eagerly, so
    // their returned plans are result reads — the CoW write shape is
    // pinned by KVSourceSpec instead)
    "m14_changes_between",
    // round 11: the real BMP pixel-feature extraction (partition-local
    // decode, zero shuffle before the orderBy) — st12/st13/m17 execute
    // their streams/mutations eagerly, so their returned plans are
    // result reads; the CoW group filter and auto selection are pinned
    // by KVSourceSpec at the files/behavior level instead
    "llm_bmp_features",
    // round 11b: DSIR (broadcast bucket models + integer weight sum +
    // TakeOrdered Gumbel top-k), SemDeDup (cell-local pairs over the
    // IVF assignment), star-contraction CC (shrinking edge set — the
    // returned plan is the final label rollup), the 4th mergeable
    // sketch, DPP on a Hive-partitioned fact, the secondary-index
    // lookup (bucket-pruned index read + broadcast base multi-get);
    // j15's bloom shape is pinned by PlanSpec under the scoped confs
    "llm_dsir_sample", "llm_semdedup", "g12_concomp",
    "an_quantile_sketch", "s15_partitioned_scan", "m19_secondary_index",
    "an_ks_test", "an_bootstrap", "llm_gopher_rules",
    // round 11c: order-local pair explosion + TakeOrdered lift,
    // one-pass OLS power sums, CCNet two-pass tercile rank
    "an_basket_lift", "an_ols", "llm_ccnet_buckets",
    // round 12: the bucketized band join (broadcast 3-bucket fanout,
    // band predicate inside the join), line-level keep-first dedup
    // (min/count partial-agg'd by block content — the skew-safe
    // keep-first), integer-halving decay aggregate, directed
    // containment over the shingle join, user-keyed interval-join
    // funnel; g13/g14/g15 checkpoint per round so their returned
    // plans are final-state reads — their shapes live in GraphOps
    // scaladoc + GraphOpsSpec
    "j16_band_join", "llm_line_dedup", "an_decay_agg",
    "llm_containment", "an_window_funnel", "f10_varint_roundtrip",
    // round 12b: percentile-break RFM (no rank window — breaks are a
    // broadcast 1-row frame); m21/st16 execute their clone/stream
    // eagerly, so their returned plans are result reads — the clone
    // contract is pinned by KVCloneSpec at the files level
    "an_rfm",
    // round 13: the IVF probe over the PERSISTED bucketed index (the
    // index-side scan plans Exchange-free — also pinned executed by
    // PlanSpec with broadcast disabled); g16/g17 checkpoint per
    // round/superstep so their returned plans are final-state reads —
    // their shapes live in GraphOps scaladoc + GraphOpsSpec
    "llm_ann_ivf_incr")

  /** Drops what a plan string borrows from JVM-global counters, object
    * identities, code positions and the checkout location: expression
    * ids (`l_orderkey#123L` → `l_orderkey#L`), exchange `plan_id`s,
    * lambda-variable suffixes (`lambda x_26#` → `lambda x#`), lambda
    * class names, identity hashes (`CombineEdge$@121fe002`), an RDD's
    * id and creation site (`MapPartitionsRDD[85] at localCheckpoint at
    * Materialize.scala:39` → `MapPartitionsRDD at localCheckpoint`),
    * and the working directory prefix of checkout-relative paths. */
  private def normalize(plan: String): String =
    plan.replace(System.getProperty("user.dir") + "/", "")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(lambda \\w+?)_\\d+#", "$1#")
      .replaceAll("\\$\\$Lambda[^\\s,]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{1,8}\\b", "")
      .replaceAll("(\\w+RDD)\\[\\d+\\] at (\\w+) at [^,\\s]+", "$1 at $2")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.ExplainDump` on `$sfDir`. Things to\n")
    sb.append("check per plan: `PushedFilters` reaching the scan, pruned\n")
    sb.append("`ReadSchema`, `BroadcastHashJoin` on dimension sides,\n")
    sb.append("`TakeOrderedAndProject` for top-k, and WholeStageCodegen\n")
    sb.append("spans covering the hot operators.\n")
    FLAGSHIPS.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val full = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // iterative plans (BSP) recursively print every cached relation's
      // stored plan — hundreds of KB that drown the document; the
      // reviewable shape is the head of the tree
      val plan = if (full.length <= 20000) full
        else full.take(20000) +
          s"\n... [truncated: ${full.length} chars total]\n"
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md").toAbsolutePath, sb.toString)
    println(s"wrote PLANS.md (${FLAGSHIPS.size} plans)")
    spark.stop()
  }
}
