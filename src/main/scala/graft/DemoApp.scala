package graft

import org.apache.spark.sql.functions._

/** Runnable end-to-end demo (DemoSimpleApp.scala:16-107 +
  * DemoGraphApp.scala:17-67 parity in the reference): builds a typed KV
  * table and a property graph from the testdata, runs the signature
  * flows of each layer, prints compact results.
  *
  * Usage: sbt "runMain graft.DemoApp [sfDir]"
  */
object DemoApp {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")

    // --- demo_simple flow: typed KV table, select/filter/join ---------
    val kv = write.KVTable(spark, graft.RepoPaths.target("graft_demo/simple"),
      wipe = true)
    kv.put(Tables.part(spark, d).select($"p_partkey".as("key"),
      lit("F").as("family"), lit("size").as("qualifier"),
      $"p_size".cast("string").as("value"), lit(1L).as("ts")))
    kv.put(Tables.part(spark, d)
      .select($"p_partkey".as("key"), explode(split($"p_name", " ")).as("q"))
      .select($"key", lit("T").as("family"), $"q".as("qualifier"),
        lit("").as("value"), lit(1L).as("ts")))
    val t = new table.TypedTable(kv)
    println("== typed select F:size > 40 ==")
    t.select(table.TLong("F", "size")).filter($"F_size" > 40)
      .orderBy($"key").show(5, truncate = false)
    println("== tags containing 'red' ==")
    t.select(table.TTags("T")).filter(array_contains($"T", "red"))
      .orderBy($"key").show(5, truncate = false)

    // --- demo_graph flow: pairs → dedup net → flatten/expand ----------
    val pairs = graph.GraphQueries.pairs2(spark, d)
    println("== degree histogram ==")
    pairs.groupBy($"src").count().groupBy($"count".as("degree"))
      .agg(count(lit(1)).as("vertices")).orderBy($"degree").show(5)
    println("== one BSP superstep (top labels) ==")
    val labels0 = pairs.select($"src".as("vertex")).distinct()
      .withColumn("label", $"vertex")
    graph.GraphOps.bspStep(labels0, pairs)
      .orderBy($"label".desc).show(5)

    // --- training-data flow: dedup + quality --------------------------
    println("== near-duplicate pairs (minhash versus exact) ==")
    llm.Dedup.minHashLsh(Tables.documents(spark, d), 0.8)
      .orderBy($"da").show(5)

    // --- storage flow: compaction, live-log DSv2 merge, time travel ---
    // compact FIRST: as-of reads see the versions the store still
    // retains; a compaction physically drops superseded versions
    // (maxVersions=1, HBase major-compaction semantics), so overlays
    // that should stay time-travelable must land in the post-compaction
    // log
    kv.compact() // bucketed generation; subsequent appends merge via DSv2
    kv.put(Tables.part(spark, d).filter($"p_partkey" % 10 === 0)
      .select($"p_partkey".as("key"), lit("F").as("family"),
        lit("size").as("qualifier"),
        ($"p_size" + 100).cast("string").as("value"), lit(2L).as("ts")))
    kv.put(Tables.part(spark, d).filter($"p_partkey" % 10 === 5)
      .select($"p_partkey".as("key"), lit("F").as("family"),
        lit("size").as("qualifier"),
        ($"p_size" + 200).cast("string").as("value"), lit(3L).as("ts")))
    println("== live view (compacted + log, zero-shuffle merged read) ==")
    kv.resolved().filter($"qualifier" === "size")
      .orderBy($"key").show(5, truncate = false)
    println("== same table VERSION AS OF ts=1 (overlays invisible) ==")
    kv.resolvedAsOf(1L).filter($"qualifier" === "size")
      .orderBy($"key").show(5, truncate = false)

    // --- multimodal: real header decode -------------------------------
    println("== multimodal blobs: PNG/BMP/GIF headers parsed for real ==")
    llm.Multimodal.decode(llm.Multimodal.blobTable(
        Tables.documents(spark, d)).as[llm.Multimodal.BlobRow])
      .toDF().orderBy($"doc_id").show(5)

    // --- dedup clusters: pairs → per-doc cluster id + keep flag -------
    println("== near-dup clusters over the minhash-LSH pair graph ==")
    val docs = Tables.documents(spark, d)
    llm.Dedup.clusters(docs, llm.Dedup.minHashLsh(docs, 0.8))
      .filter(!$"keep").orderBy($"doc_id").show(5)

    // --- corpus text stats: vocabulary + tf-idf keywords --------------
    println("== corpus vocabulary (top terms by frequency) ==")
    SparkEntry.queries("llm_vocab_topk")(spark, d).show(5)
    println("== tf-idf keywords (top-3 scoring terms per doc) ==")
    SparkEntry.queries("llm_tfidf_topterms")(spark, d).show(6)
    println("== PII scrub (emails + long digit runs redacted) ==")
    SparkEntry.queries("llm_pii_scrub")(spark, d)
      .select($"doc_id", $"n_emails", $"n_ids",
        substring($"scrubbed", -46, 46).as("scrubbed_tail")).show(3, truncate = false)
    println("== sequence packing (concat-and-chunk into 4096-token sequences) ==")
    SparkEntry.queries("llm_pack_sequences")(spark, d).show(4)

    // --- temporal joins ----------------------------------------------
    println("== as-of join: each purchase's latest prior view value ==")
    val ev = Tables.events(spark, d).withColumn("ts", expr("ts DIV 1000"))
    operators.Temporal.asofJoin(
        ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id"),
        ev.filter($"event_type" === "view")
          .groupBy($"user_id", $"ts").agg(max($"value").as("qval")),
        "user_id", "ts", Seq("event_id"), "qval")
      .orderBy($"user_id", $"ts").show(5)

    // --- analytics + layout -------------------------------------------
    println("== tpch_q9 profit by supplier nation/year (all 22 TPC-H shapes registered) ==")
    SparkEntry.queries("tpch_q9")(spark, d).show(5)
    println("== z-order clustered layout: read-back filtered on the secondary column ==")
    SparkEntry.queries("s11_zorder_scan")(spark, d).show(3)

    // --- SQL row-level mutations (round 9) -----------------------------
    println("== MERGE INTO the KV table from SQL (delta row-level ops) ==")
    val ident = sources.kv.KVSource.sqlName(spark,
      graft.RepoPaths.target("graft_demo/simple"))
    Tables.part(spark, d).filter($"p_partkey" % 2 === 0)
      .select($"p_partkey".as("key"), lit("9999").as("value"))
      .createOrReplaceTempView("demo_updates")
    spark.sql(
      s"""MERGE INTO $ident t USING demo_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'size'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 9""".stripMargin)
    spark.sql(s"DELETE FROM $ident WHERE key % 10 = 7")
    kv.resolved().filter($"qualifier" === "size")
      .orderBy($"key").show(5, truncate = false)
    println("== streaming z-score alerts (running power-sum state) ==")
    SparkEntry.queries("st7_zscore_alerts")(spark, d).show(5)
    println("== learned BPE merges (3 rounds) ==")
    SparkEntry.queries("llm_bpe_merges")(spark, d).show()

    // --- retrieval, ranking, event analytics (round 8c) ---------------
    println("== BM25 retrieval for the query {merge, scan, window} ==")
    SparkEntry.queries("llm_bm25_topk")(spark, d).show(5)
    println("== PageRank over the order-part graph (2 power iterations) ==")
    SparkEntry.queries("g11_pagerank")(spark, d).show(5)
    println("== PQ/ADC ANN: codes scan + broadcast distance tables + re-rank ==")
    SparkEntry.queries("llm_ann_pq")(spark, d).show(5)
    println("== temperature domain mixing (count^0.5 stratum weights) ==")
    SparkEntry.queries("llm_domain_mix")(spark, d).show(5)
    println("== event funnel: view -> click -> purchase, in order ==")
    SparkEntry.queries("an_funnel")(spark, d).show()
    println("== bigram-LM quality: most- and least-predictable docs ==")
    SparkEntry.queries("llm_quality_lm")(spark, d).orderBy($"nll").show(3)

    spark.stop()
  }
}
