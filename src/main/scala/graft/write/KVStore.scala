package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.kv.{GraftFs, KVCommit, KVGeneration, KVLayout, KVLogWrite, KVSource}

/** Cell-level KV table with the reference's storage semantics
  * (HBaseTable.scala:100-352, HBaseRDD.scala:39-42) re-expressed on
  * parquet:
  *
  *  - a table is an append-only log of CELLS
  *    `(key, family, qualifier, value, ts, tomb)` — exactly HBase's
  *    (row, cf, qual, value, timestamp) plus tombstone markers;
  *  - reads resolve latest-version-wins per (key, family, qualifier)
  *    with `setMaxVersions(1)` semantics (HBaseRDD.scala:40) and HBase
  *    delete semantics: a tombstone masks every cell at or below its ts
  *    (`tomb` = 'row' | 'family' | 'cell', HBaseTable.scala:181-212);
  *  - `compact()` writes the resolved state as a new bucketed,
  *    key-sorted generation and commits it, resolving each bucket in
  *    its own task. On a table already bucketed at the target count it
  *    is region-local, like the store's own compactions: no shuffle.
  *    Otherwise (re-bucketing, a log-only table's first compaction) it
  *    is the bulk path (HBaseTable.scala:234-352): hash-partition the
  *    raw cells into buckets (≙ the HFile shuffle,
  *    HBaseTable.scala:219-242), resolve, write sorted, swap.
  *
  * A table is its path: its commit log (`<path>/_commits/<seq>`, one
  * immutable record per change, [[graft.sources.kv.KVCommit]]) is the
  * whole state, its fold ([[KVLayout]]) is what a read sees, and every
  * read and write addresses it by path alone — no catalog entry exists
  * for it.
  *
  * Scale notes: appends are cheap (no read-modify-write at write time —
  * the reference's BufferedMutator analogue) and all land through one
  * staged log writer ([[graft.sources.kv.KVLogWrite]]): [[put]],
  * [[delete]], [[increment]], SQL INSERT and the delta MERGE alike. A
  * resolved read is resolved inside the region scan, like the store's
  * `setMaxVersions(1)` scan: each scan task runs the resolve kernel
  * over one bucket's compacted files plus the log rows hashing to it,
  * with no shuffle, sort or window ([[resolvedAsOf]]). Read cost is
  * therefore the log a bucket re-reads, and periodic compaction bounds
  * it exactly like HBase memstore flush + compaction does. At 100 TB
  * the compacted form is key-sorted parquet → merge-joinable and
  * range-prunable.
  */
class KVTable(val spark: SparkSession, val path: String) {
  import KVTable._

  /** The one existence rule, shared with [[graft.sources.kv.GraftCatalog]]:
    * the table has a commit record. */
  def exists: Boolean = KVLayout.exists(path)

  private def emptyCells: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType.fromDDL(CELL_SCHEMA_DDL))

  /** Raw cell log, addressed by path through the DSv2 source
    * (sources/kv/KVBatchTable.scala) for every layout. On a compacted
    * table each scan task reads its bucket's compacted file(s) plus the
    * log rows hashing to it, and the scan reports
    * KeyGroupedPartitioning(bucket(n, key)) — so the read stays
    * clustered by key with or without a log, and downstream
    * resolve/join/groupBy plan with zero Exchange (the analogue of the
    * reference advertising its RegionPartitioner, HBaseRDD.scala:26). A
    * log-only table reads as size-packed file splits. The empty case stands
    * apart only because the catalog refuses to load a table with no
    * state (its existence check is the one rule [[exists]] uses, so it
    * is not listed twice). */
  def cells: DataFrame = read(Map.empty)

  private def read(options: Map[String, String]): DataFrame =
    try KVSource.read(spark, path, options)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => emptyCells
    }

  /** M1/M2 `update`/`put` (HBaseTable.scala:100-155): append new cells;
    * no read required (upsert-by-log). One file per non-empty
    * partition of `newCells`, all committed by one record. */
  def put(newCells: DataFrame): Unit = KVLogWrite.append(path, conform(newCells))

  /** M4 `delete` (HBaseTable.scala:181-212): row / family / cell
    * granularity tombstones. Pass qualifier=null+family=null for whole
    * row, qualifier=null for whole family. */
  def delete(marks: DataFrame, ts: Long): Unit = {
    val tomb = marks
      .withColumn("tomb",
        when(col("family").isNull, lit("row"))
          .when(col("qualifier").isNull, lit("family"))
          .otherwise(lit("cell")))
      .withColumn("value", lit(null).cast("string"))
      .withColumn("ts", lit(ts))
    put(tomb)
  }

  /** A11/M3 `increment` (HBaseTable.scala:157-179): read-merge-write of
    * counter deltas; zero deltas skipped like the reference. */
  def increment(deltas: DataFrame, ts: Long): Unit = {
    val current = resolved()
      .select(col("key"), col("family"), col("qualifier"),
        col("value").cast("long").as("cur"))
    val merged = deltas.filter(col("delta") =!= 0)
      .groupBy(col("key"), col("family"), col("qualifier"))
      .agg(sum(col("delta")).as("delta"))
      .join(current, Seq("key", "family", "qualifier"), "left_outer")
      .select(col("key"), col("family"), col("qualifier"),
        (coalesce(col("cur"), lit(0L)) + col("delta")).cast("string").as("value"),
        lit(ts).as("ts"), lit(null).cast("string").as("tomb"))
    put(merged)
  }

  /** Latest-wins live-cell view (the read path every query sees): the
    * [[resolvedAsOf]] read at cutoff `Long.MaxValue`. */
  def resolved(): DataFrame = resolvedAsOf(Long.MaxValue)

  /** Latest-wins view as of cell-timestamp `v` (HBase timestamped
    * read / SQL `VERSION AS OF v` on the DSv2 table): cells written
    * after v — including later tombstones — are invisible.
    *
    * Shape: one scan stage, no Exchange, sort or window. The read goes
    * through the catalog like [[cells]], with the cutoff as a read
    * option, so each task of the resolved scan
    * ([[graft.sources.kv.KVResolvedScan]]) runs the resolve kernel at
    * cutoff `v` over its bucket (`ts <= v` prunes parquet row groups on
    * both legs). A bucketed layout keeps reporting
    * KeyGroupedPartitioning(bucket(n, key)), so key joins against it
    * stay storage-partitioned; the scan is sized by the snapshot's
    * bytes, so a small table broadcasts; and a runtime key filter (DPP)
    * prunes its buckets. A never-compacted (log-only) table is ONE
    * kernel task, the contract MERGE, graft-cdc and [[changeLog]] run
    * on too; compaction is what buys read parallelism.
    *
    * Retention rule (maxVersions=1, HBase major-compaction parity):
    * the view reaches only versions the store still RETAINS — a
    * compaction physically keeps one winning version per cell, so a
    * version superseded BEFORE the last compaction is gone and an
    * as-of read older than that sees the cell as absent, exactly as a
    * timestamped HBase scan does after a major compaction. */
  def resolvedAsOf(v: Long): DataFrame =
    read(Map(KVSource.RESOLVED_AS_OF -> v.toString))
      .select(col("key"), col("family"), col("qualifier"), col("value"), col("ts"))

  /** Change-data feed: the NET difference between the live state as of
    * `from` and as of `to` (both inclusive cutoffs, `from < to`) — one
    * row per cell whose live version changed, tagged
    * `insert` / `update` / `delete` with the before/after value and ts.
    * This is the table-format CDC read (Delta CDF / Iceberg
    * changelog shape) over the store's version log: downstream
    * consumers refresh derived state from the diff instead of
    * re-reading the full table.
    *
    * Shape at scale: both cutoff states are [[resolvedAsOf]] reads,
    * each resolved inside its scan with `ts` pruning row groups and no
    * shuffle, and the final full-outer join is keyed by
    * (key,family,qualifier) — co-located off a bucketed layout, a
    * broadcast off a small one. Net-change semantics mean
    * a cell written and superseded entirely inside (from, to] emits only
    * the net row, and the same retention rule as [[resolvedAsOf]]
    * applies to `from` cutoffs older than the last compaction. */
  def changesBetween(from: Long, to: Long): DataFrame = {
    require(from < to, s"changesBetween needs from < to, got [$from, $to]")
    changesBetweenStates(resolvedAsOf(from), resolvedAsOf(to))
  }

  /** The diff half of [[changesBetween]], over ALREADY-RESOLVED cutoff
    * states — a consumer walking consecutive cutoffs (m16's derived
    * refresh) caches each state once and diffs adjacent pairs, instead
    * of re-resolving every state twice. */
  def changesBetweenStates(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("key").as("b_key"), col("family").as("b_family"),
      col("qualifier").as("b_qualifier"),
      col("value").as("old_value"), col("ts").as("old_ts"))
    val a = after.select(col("key").as("a_key"), col("family").as("a_family"),
      col("qualifier").as("a_qualifier"),
      col("value").as("new_value"), col("ts").as("new_ts"))
    // null-SAFE join: a NULL family/qualifier is a real cell coordinate
    // (resolve groups them), so the two cutoff states must match it to
    // itself or an unchanged null-keyed cell would diff as delete+insert
    b.join(a, col("b_key") <=> col("a_key") &&
        col("b_family") <=> col("a_family") &&
        col("b_qualifier") <=> col("a_qualifier"), "full_outer")
      .withColumn("key", coalesce(col("b_key"), col("a_key")))
      .withColumn("family", coalesce(col("b_family"), col("a_family")))
      .withColumn("qualifier", coalesce(col("b_qualifier"), col("a_qualifier")))
      .withColumn("change_type",
        when(col("old_ts").isNull, lit("insert"))
          .when(col("new_ts").isNull, lit("delete"))
          .otherwise(lit("update")))
      // unchanged live version (same winning ts AND value) is not a change
      .filter(col("old_ts").isNull || col("new_ts").isNull ||
        !(col("old_ts") === col("new_ts") &&
          col("old_value") <=> col("new_value")))
      .select(col("key"), col("family"), col("qualifier"), col("change_type"),
        col("old_value"), col("new_value"), col("old_ts"), col("new_ts"))
  }

  /** Multi-cutoff change history in ONE pass: for sorted `cutoffs`
    * (v0, v1, …, vn) emits every [[changesBetweenStates]] row of every
    * adjacent pair, tagged with `round` = the index of the later
    * cutoff. Equivalent to n calls to [[changesBetween]] but the
    * version log is read ONCE and never shuffled: it is a batch read of
    * the graft-cdc source (sources/kv/KVCdc.scala), whose bucket-local
    * reader replays every cutoff state through the executor-side
    * resolve kernel in one pass over each bucket's files (a log-only
    * table is one task). This is the CDC-walk shape a derived-state
    * consumer uses to catch up over several refresh points
    * (`m16_cdc_apply`): O(one log scan), not O(cutoffs × log scans).
    * [[changesBetween]] stays the declarative two-state form over two
    * resolved reads. Throws IllegalArgumentException unless there
    * are >=2 strictly increasing cutoffs (the source checks). */
  def changeLog(cutoffs: Seq[Long]): DataFrame =
    spark.read.format("graft-cdc").option("path", path)
      .option("cutoffs", cutoffs.mkString(",")).load()

  /** M5-M7: resolve + bucketed, key-sorted rewrite as a new
    * generation + swap. On a table already bucketed at `numBuckets`
    * (every compaction after the first at a fixed count) it runs one
    * stage with no shuffle: each task resolves one bucket of the
    * snapshot through the resolve kernel and writes that bucket's
    * sorted file ([[KVGeneration.writeResolved]]) — the store's
    * region-local compaction. Otherwise — a log-only table, or a
    * change of bucket count — it is the bulk path: one hash shuffle of
    * the raw cells on the key before the same per-bucket task, the
    * HFile-pipeline shape. Either way the output is a layout
    * Catalyst can SEE: the scan reports bucket(numBuckets, key), so
    * every downstream key join / groupBy plans with
    * zero Exchange (the reference's RegionPartitioner advertisement,
    * RegionPartitioner.scala:12-68). Two compacted tables with the same
    * bucket count join co-located, shuffle-free on either side.
    *
    * Each compaction writes FRESH files and commits them in one
    * checkpoint record: the state is written exactly once, and readers
    * planned before the commit keep working through the swap — the
    * files it drops survive (the HBase scanners-hold-HFiles analogue)
    * and are deleted only by the NEXT rewrite's commit, giving
    * in-flight scans one full compaction interval to drain. Appends
    * racing it stay live; a rewrite racing it on the same files makes
    * one of the two throw `ConcurrentModificationException`. */
  def compact(numBuckets: Int = 8): Unit =
    KVGeneration.writeResolved(KVLayout(path), numBuckets, Long.MaxValue)

  /** M22: RESTORE — roll the live state back to the `VERSION AS OF v`
    * view by compacting THAT view into a new generation (the lakehouse
    * RESTORE/ROLLBACK command): versions and tombstones written after
    * `v` vanish from the live state in one commit record, and because
    * the restore is itself just a new generation, a wrong restore is
    * re-restorable while the previous generation survives.
    * Subject to [[resolvedAsOf]]'s retention rule: a target older than
    * the last compaction restores what the store still retains. Same
    * two plans as [[compact]], each bucket resolved at cutoff `v`
    * (`ts <= v` pruning row groups, or rows before the shuffle). */
  def restoreAsOf(v: Long, numBuckets: Int = 8): Unit =
    KVGeneration.writeResolved(KVLayout(path), numBuckets, v)

  /** M21: ZERO-COPY shallow clone (the lakehouse CLONE contract): the
    * clone is a NEW table whose files are hard links to this table's
    * live files ([[graft.sources.kv.GraftFs.linkOrCopy]]; an object
    * store degrades to copy behind it), at the same table-relative
    * paths, committed as one checkpoint at seq 0. O(#files) metadata
    * work, zero data bytes moved on a POSIX/HDFS-like store. The two
    * tables then evolve independently: each side's appends and
    * compactions commit to its own log, and a source compaction
    * deleting its dropped files cannot strand the clone, because the
    * links keep the bytes alive for as long as the clone names them
    * (KVCloneSpec pins divergence both ways across a source compaction
    * that drops the linked files). */
  def cloneTo(destPath: String): KVTable = {
    require(destPath != path, "clone destination must differ from source")
    val dest = KVTable(spark, destPath, wipe = true)
    val snap = KVLayout(path)
    snap.files.foreach(f =>
      GraftFs.linkOrCopy(s"$path/${f.rel}", s"$destPath/${f.rel}"))
    if (snap.generation >= 0)
      KVCommit.rewrite(KVLayout(destPath), snap.numBuckets, snap.files, Nil, snap.maxTs)
    dest
  }

  /** Compaction with a CDC RETENTION HORIZON: versions and tombstones
    * with `ts > retainSince` survive the rewrite VERBATIM; history at
    * or below the horizon collapses to the resolved winners as of
    * `retainSince` (tombstones ≤ the horizon are applied, then
    * dropped). Live state is untouched — resolving (winners-at-horizon
    * ∪ retained-recent) equals resolving the full log — but every
    * as-of read, `changesBetween` window and graft-cdc stream offset
    * at or above the horizon stays EXACT across the rewrite, where
    * plain [[compact]] folds them to net effect. This is the knob
    * that lets a lagging CDC consumer (bounded by its checkpoint lag)
    * coexist with compaction: pick `retainSince` ≤ the slowest
    * consumer's committed cutoff, exactly like a changelog/CDF
    * retention window (or HBase's KEEP_DELETED_CELLS + TTL pair).
    * Cost: the compacted files carry the horizon's churn extra rows —
    * O(churn since horizon), the price of the replayability, which a
    * rewrite task also holds on the heap. Same two plans as
    * [[compact]]. */
  def compactRetaining(retainSince: Long, numBuckets: Int = 8): Unit =
    KVGeneration.writeResolved(KVLayout(path), numBuckets, retainSince,
      keepAbove = true)

  // --- CDC consumer registry (the operational half of the retention
  // horizon: compaction picks its horizon from the slowest registered
  // consumer instead of a human guessing one) ------------------------

  private def consumersDir = s"$path/_cdc_consumers"

  /** Record `name`'s committed CDC cutoff — one tiny file per
    * consumer, atomically replaced. A graft-cdc consumer calls this
    * from its fold (after the batch lands; the streaming checkpoint
    * remains the source of truth for the consumer itself — this
    * registry only protects it from compaction). */
  def commitCdcCutoff(name: String, cutoff: Long): Unit =
    graft.sources.kv.GraftFs.atomicReplace(
      s"$consumersDir/$name.txt", cutoff.toString)

  /** Registered consumers' committed cutoffs. A file that does not
    * parse throws, naming it: skipping it would let [[compactSafely]]
    * fold history that consumer still needs. */
  def cdcCutoffs: Map[String, Long] =
    graft.sources.kv.GraftFs.list(consumersDir)
      .filter(e => !e.isDir && e.name.endsWith(".txt"))
      .flatMap { e =>
        graft.sources.kv.GraftFs.readString(e.path).map { s =>
          e.name.stripSuffix(".txt") -> s.trim.toLongOption.getOrElse(
            throw new IllegalStateException(
              s"unparseable CDC consumer cutoff in ${e.path}: '${s.take(64)}'"))
        }
      }.toMap

  /** Deregister a retired consumer so it stops pinning history. */
  def releaseCdcConsumer(name: String): Unit = {
    graft.sources.kv.GraftFs.delete(s"$consumersDir/$name.txt",
      recursive = false); ()
  }

  /** Compaction that can run on a cron WITHOUT coordinating with CDC
    * consumers: the retention horizon is the slowest registered
    * consumer's committed cutoff ([[compactRetaining]]), so every
    * registered stream keeps an exact feed across the rewrite; with no
    * registered consumers it is a plain [[compact]]. */
  def compactSafely(numBuckets: Int = 8): Unit =
    cdcCutoffs.values.minOption match {
      case Some(h) => compactRetaining(h, numBuckets)
      case None => compact(numBuckets)
    }

  /** Engine-side MoR-vs-CoW strategy selection for a row-level SQL
    * command (`spark.graft.kv.rowlevel=auto`) — the write-side answer
    * to the reference's acknowledged join-strategy-selection TODO
    * (README.md:14,232): measure, then pick, instead of asking the
    * user to know.
    *
    * The decision statistic is the TOUCHED-BUCKET FRACTION of the
    * command's source: one tiny aggregate (`distinct pmod(murmur3(key),
    * n)` — at most n values, broadcast-collected) over the source keys,
    * nothing read from the table. With the group-filtered CoW commit
    * the cost model is clean: a copy-on-write rewrite pays exactly the
    * touched buckets' bytes once and reads are maximally compact after,
    * while a delta append pays O(changed rows) now and resolve
    * amplification on every later read. Few buckets touched → delta
    * (MoR); at or above `spark.graft.kv.rowlevel.auto.cowThreshold`
    * (default 0.5) of the buckets → CoW. The decision lives HERE and
    * not in the connector because Spark's RowLevelOperationInfo carries
    * no source statistics — the operation builder is constructed
    * before the source plan is bound, so the engine's merge entry
    * point, which holds the source, is the one place that can measure
    * it (Delta Lake sizes its own commands the same way). Raw SQL under
    * `auto` without this wrapper falls back to delta, the
    * write-optimized default.
    *
    * Sets the session strategy for the scope of `body`, restores
    * `auto` after; the decision is also returned for inspection. */
  def withAutoRowLevel[T](source: DataFrame, keyCol: String = "key")(
      body: => T): (T, String) = {
    val mode = spark.conf.get("spark.graft.kv.rowlevel", "delta")
    if (mode != "auto") (body, mode)
    else {
      val n = Some(KVLayout(path).numBuckets).filter(_ > 0).getOrElse(8)
      val touched = source
        .select(pmod(hash(col(keyCol)), lit(n)).as("b")).distinct().count()
      val threshold = spark.conf
        .get("spark.graft.kv.rowlevel.auto.cowThreshold", "0.5").toDouble
      val decided = if (touched >= threshold * n) "cow" else "delta"
      // when the measurement already proves the rewrite near-TOTAL,
      // Spark's runtime group-filter subquery (a bucket-granularity
      // source⋈target join) can prune nothing — skip it for this
      // command's scope instead of paying a second join's worth of work
      val groupFilterConf =
        "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
      val skipGroupFilter = decided == "cow" && touched >= n * 95L / 100L
      graft.GraftSession.withConf(spark,
          Seq("spark.graft.kv.rowlevel" -> decided) ++
            Option.when(skipGroupFilter)(groupFilterConf -> "false"): _*) {
        (body, decided)
      }
    }
  }

  /** Async bulk-load completion (reference `completeAsync`,
    * HBaseTable.scala:316-344): compaction on a background thread so the
    * writer can continue appending to the log while the heavy rewrite
    * runs. Spark jobs are thread-safe per session; the returned future
    * completes when the new generation is swapped in.
    *
    * Concurrency contract: concurrent APPENDS are safe (the rewrite
    * drops only its snapshot's files and rebases its commit record over
    * racing appends, whose files stay live), and concurrent READS are
    * safe too — the files the commit drops survive until the NEXT
    * rewrite, so a scan planned before the swap keeps reading valid
    * files (HBase's scanners-hold-HFiles semantics; see [[compact]] and
    * [[graft.sources.kv.KVCommit.rewrite]]). */
  def compactAsync(numBuckets: Int = 8)(
      implicit ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global)
      : scala.concurrent.Future[Unit] =
    scala.concurrent.Future(compact(numBuckets))

  // --- family descriptors (reference HBaseAdminUtils.scala:86-103:
  // per-family TTL / compression / bloom / maxVersions) ---------------

  private def familyMeta = s"$path/_families.json"

  /** Declare per-family properties. maxVersions is fixed at 1 by the
    * read path (setMaxVersions(1) parity); compression/bloom are
    * recorded as intent (parquet brings its own codec + min/max
    * pruning); ttlSeconds is enforced: expired cells are masked at read
    * time and physically dropped at compaction. Replaced atomically: a
    * racing [[compactAt]] never reads a cut-off TTL. */
  def setFamilies(descs: Seq[FamilyDescriptor]): Unit =
    graft.sources.kv.GraftFs.atomicReplace(familyMeta,
      descs.map(fd =>
        s"${fd.family}\t${fd.ttlSeconds}\t${fd.compression}\t${fd.bloom}\n")
        .mkString)

  def families: Seq[FamilyDescriptor] =
    graft.sources.kv.GraftFs.readString(familyMeta).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty).map { l =>
        val f = l.split("\t")
        FamilyDescriptor(f(0), f(1).toLong, f(2), f(3).toBoolean)
      }

  /** Per TTL'd family, the ts at or below which its cells are dead. */
  private def ttlCutoffs(nowTs: Long): Map[String, Long] =
    families.filter(_.ttlSeconds != Long.MaxValue)
      .map(fd => fd.family -> (nowTs - fd.ttlSeconds)).toMap

  /** TTL mask: cells of a TTL'd family older than (now - ttl) are dead.
    * Applied as a read filter (HBase masks expired cells at read time
    * too); compactAt() drops them physically. */
  private[graft] def ttlFilter(df: DataFrame, nowTs: Long): DataFrame = {
    val ttls = ttlCutoffs(nowTs)
    if (ttls.isEmpty) df
    else df.filter(col("ts") > ttls.foldLeft(lit(Long.MinValue)) {
      case (acc, (fam, cut)) => when(col("family") === fam, lit(cut)).otherwise(acc)
    })
  }

  /** Latest-wins view with TTL enforcement as of `nowTs`: the
    * [[resolved]] read with the TTL predicate applied after the
    * resolve. That equals expiring first and resolving after, because a
    * version or tombstone at or below its family's TTL cutoff can only
    * mask versions that are themselves expired (row tombstones carry no
    * family and never expire). */
  def resolvedAt(nowTs: Long): DataFrame = ttlFilter(resolved(), nowTs)

  /** Compaction that also physically expires TTL'd cells (the
    * reference's major-compaction TTL semantics, run per region). Same
    * two plans as [[compact]]; each task drops the expired winners,
    * which equals expiring before the resolve ([[resolvedAt]]). */
  def compactAt(nowTs: Long, numBuckets: Int = 8): Unit =
    KVGeneration.writeResolved(KVLayout(path), numBuckets, Long.MaxValue,
      expiry = ttlCutoffs(nowTs))

  /** Drop all state: the commit log and every file. */
  def drop(): Unit = KVTable.deleteRecursively(path)
}

/** Per-family storage properties (HBaseAdminUtils.scala:86-103 parity).
  * ttlSeconds = Long.MaxValue means no expiry. */
case class FamilyDescriptor(family: String,
                            ttlSeconds: Long = Long.MaxValue,
                            compression: String = "snappy",
                            bloom: Boolean = true)

object KVTable {
  val CELL_SCHEMA_DDL =
    "key BIGINT, family STRING, qualifier STRING, value STRING, ts BIGINT, tomb STRING"

  def apply(spark: SparkSession, path: String, wipe: Boolean = false): KVTable = {
    val t = new KVTable(spark, path)
    if (wipe) t.drop()
    t
  }

  private[write] def deleteRecursively(path: String): Unit =
    graft.sources.kv.GraftFs.delete(path, recursive = true)

  private[write] def conform(df: DataFrame): DataFrame =
    df.select(col("key").cast("long"), col("family").cast("string"),
      col("qualifier").cast("string"), col("value").cast("string"),
      col("ts").cast("long"),
      (if (df.columns.contains("tomb")) col("tomb") else lit(null))
        .cast("string").as("tomb"))

}
