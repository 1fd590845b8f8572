package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * - shuffle partitions sized to the core count (local mode); on a real
  *   cluster AQE coalesces post-shuffle partitions anyway.
  * - AQE on: runtime join-strategy switching + skew-join splitting — the
  *   scale story for 100 TB joins (SURVEY.md §4).
  * - events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
  *   default; nanosAsLong reads it as LongType nanos-since-epoch (the
  *   reference's cell timestamps are epoch longs too, HBaseRDD cell ts).
  */
object GraftSession {
  def builder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft functions + optimizer rules (nanos-range pushdown rewrite)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.RepoPaths.target("warehouse"))
      // graft KV catalog + V2 bucketing: lets the DSv2 KV scan report
      // KeyGroupedPartitioning(bucket(n,key)) that Catalyst can use for
      // shuffle elimination (storage-partitioned joins / clustered aggs)
      .config("spark.sql.catalog.graft", "graft.sources.kv.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // static conf, default 100: a 245-query bench sweep would evict
      // every generated class between a query's warmup and its timed
      // samples — size it to hold the whole surface's codegen
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scoped planning profile for TRIGGER-SIZED work — foreachBatch
    * bodies and incremental-ingest probes: AQE off for the scope.
    * Structured Streaming itself runs with AQE disabled because
    * runtime re-planning wins nothing on a bounded micro-batch while
    * every exchange materializes as its own scheduler job; but a
    * foreachBatch body executes as a BATCH query, so AQE silently
    * re-enables there and a trigger-sized pipeline pays the per-stage
    * scheduling round-trips (measured on the st8 ingest batch: 31
    * jobs/79 stages with AQE vs 13/41 without, ~40% wall-clock).
    * Corpus-sized work — index builds, full clustering, compaction —
    * stays OUTSIDE this scope and keeps AQE's coalescing/skew handling;
    * the batch side of an ingest stays trigger-sized at any corpus
    * scale, so the profile holds at 100 TB.
    *
    * Session discipline: pass the session the body's plans actually
    * execute under. Inside `foreachBatch` that is `batch.sparkSession`
    * — the engine hands the body a micro-batch CLONE session, so a
    * toggle on the outer session would miss the batch plans entirely
    * (and race any concurrent planner on that shared session). The
    * clone is confined to the running micro-batch, which is what makes
    * the set/restore safe there. */
  def withMicroBatchPlanning[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Scoped planning profile for BOUNDED stream replays — AvailableNow
    * runs over staged files whose final emission is forced by explicit
    * far-future sentinel rows (the st2/st10/st15 flush discipline):
    * the engine's automatic trailing NO-DATA micro-batch exists to
    * emit/evict event-time state when no more data ever arrives, but a
    * sentinel-flushed bounded replay has nothing left to emit there —
    * the extra batch is one full commit cycle (state-store commits
    * across every partition of every stateful operator + offset/commit
    * WAL writes) of pure overhead, measured at 0.4-2 s per stream at
    * ANY data scale (trigger cost is partition-count-, not row-,
    * bound). Scoped, NOT a session default: open-ended flows that
    * close state by watermark timeout with no trailing data
    * (Sessionize.eventTimeIdle, session_window merges) NEED the
    * no-data batch — SessionizeSpec/StreamWindowSpec pin that
    * semantic, and library users keep it. */
  def withBoundedReplay[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** Runs `body` with each `(key -> value)` set on `s`, then restores
    * every key to its previous value, or unsets it if it was unset.
    * Session confs are shared by every thread on `s`: scope only work
    * that runs eagerly inside `body` on a session no concurrent planner
    * uses (see [[withMicroBatchPlanning]]). */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
