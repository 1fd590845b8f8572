package graft.write

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *  - `compact()` is the bulk path (HBaseTable.scala:234-352): resolve,
  *    range-partition + sort by key (repartitionByRange +
  *    sortWithinPartitions ≙ the HFile shuffle,
  *    HBaseTable.scala:219-242), rewrite, swap.
  *
  * Scale notes: appends are cheap (no read-modify-write at write time —
  * the reference's BufferedMutator analogue); resolution cost is one
  * key-partitioned window sort ([[KVTable.resolve]]), so periodic
  * compaction bounds read amplification exactly like HBase memstore
  * flush + compaction does. At 100 TB the compacted form is key-sorted
  * parquet → merge-joinable and range-prunable.
  */
class KVTable(val spark: SparkSession, val path: String) {
  import KVTable._

  private def logDir = s"$path/log"

  /** Catalog identity stem of the compacted state — derived from the
    * path so each table path owns its own catalog entries. The slug
    * alone is not injective (it collapses case and non-alphanumerics,
    * so `/kv-a` and `/kv_A` would share a catalog entry and clobber
    * each other's compacted state) — a hash of the raw path
    * disambiguates. Each compaction GENERATION gets its own catalog
    * table (`<stem>_g<N>`), so a reader resolved against generation
    * N-1 keeps a valid table entry while generation N swaps in. */
  private val tableBase: String = {
    val slug = path.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "").toLowerCase
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_kv_${slug}_$hash"
  }

  private def tableNameFor(gen: Int): String = s"${tableBase}_g$gen"

  /** Current generation's catalog table name. */
  def tableName: String = tableNameFor(currentGen.map(_._1).getOrElse(0))

  /** True only when the log holds DATA files. Spark's parquet commit
    * leaves `_SUCCESS` (+ `.crc`) markers behind, and compaction deletes
    * only the snapshot's data files — a bare directory-exists check
    * would see the surviving markers and union an empty log leg onto
    * every post-compaction read, erasing the bucketed scan's
    * hashpartitioning(key) and re-introducing a full shuffle. */
  private def logExists: Boolean = listLogFiles().nonEmpty

  /** `(generation, numBuckets)` of the live compacted state, via the
    * shared pointer reader ([[graft.sources.kv.KVPointer]] — one parse
    * for the write path and the DSv2 scan path alike). Generations live
    * side by side under `compacted/gen-<N>/`; the atomic pointer flip
    * is what publishes one, and a corrupt pointer self-heals from the
    * newest complete generation. */
  private[graft] def currentGen: Option[(Int, Int)] =
    graft.sources.kv.KVPointer.read(path)

  /** The session catalog is in-memory: a compacted generation written
    * by a previous session has files + the pointer on disk but no
    * catalog entry — re-register it (CLUSTERED BY matching the layout)
    * so its partitioning stays visible to Catalyst across sessions. */
  private def compactedExists: Boolean = currentGen match {
    case None => false
    case Some((g, n)) =>
      val t = tableNameFor(g)
      if (!spark.catalog.tableExists(t))
        spark.sql(
          s"""CREATE TABLE $t ($CELL_SCHEMA_DDL) USING parquet
             |CLUSTERED BY (key) SORTED BY (key, family, qualifier)
             |INTO $n BUCKETS LOCATION '$path/compacted/gen-$g'""".stripMargin)
      true
  }

  def exists: Boolean = logExists || compactedExists

  private def emptyCells: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType.fromDDL(CELL_SCHEMA_DDL))

  /** Raw cell log: compacted bucketed table (key-clustered, key-sorted —
    * Catalyst sees hashpartitioning(key) and plans key joins/groupBys
    * downstream of `resolved()` with NO Exchange, the analogue of the
    * reference advertising its RegionPartitioner, HBaseRDD.scala:26)
    * merged with post-compaction appends (the memstore analogue).
    *
    * When BOTH legs exist, the merge goes through the DSv2 source
    * (sources/kv/KVBatchTable.scala): each scan task reads its bucket's
    * compacted file plus the log rows hashing to it, and the scan
    * reports KeyGroupedPartitioning(bucket(n, key)) — so the merged
    * read stays clustered by key and downstream resolve/join/groupBy
    * plan with zero Exchange, a property a DataFrame-level union cannot
    * preserve (it would re-shuffle the whole table). The pure-compacted
    * case stays on the V1 bucketed table (vectorized scan, already
    * partitioning-visible); the pure-log case is a plain scan with no
    * partitioning to preserve. `graft.kv.dsv2=false` restores the
    * union fallback. */
  def cells: DataFrame = (compactedExists, logExists) match {
    case (true, true)
        if spark.conf.getOption("graft.kv.dsv2").forall(_.toBoolean) =>
      graft.sources.kv.KVSource.read(spark, path)
    case (true, true) =>
      spark.table(tableName)
        .unionByName(spark.read.schema(CELL_SCHEMA_DDL).parquet(logDir))
    case (true, false) => spark.table(tableName)
    case (false, true) => spark.read.schema(CELL_SCHEMA_DDL).parquet(logDir)
    case _ => emptyCells
  }

  /** M1/M2 `update`/`put` (HBaseTable.scala:100-155): append new cells;
    * no read required (upsert-by-log). */
  def put(newCells: DataFrame): Unit =
    conform(newCells).write.mode(SaveMode.Append).parquet(logDir)

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

  /** Latest-wins live-cell view (the read path every query sees). */
  def resolved(): DataFrame = resolve(cells)

  /** Latest-wins view as of cell-timestamp `v` (HBase timestamped
    * read / SQL `VERSION AS OF v` on the DSv2 table): cells written
    * after v — including later tombstones — are invisible. The ts
    * cutoff is a plain pushed predicate, so it prunes parquet row
    * groups on both the compacted and log legs.
    *
    * Retention rule (maxVersions=1, HBase major-compaction parity):
    * the view reaches only versions the store still RETAINS — a
    * compaction physically keeps one winning version per cell, so a
    * version superseded BEFORE the last compaction is gone and an
    * as-of read older than that sees the cell as absent, exactly as a
    * timestamped HBase scan does after a major compaction. */
  def resolvedAsOf(v: Long): DataFrame =
    resolve(cells.filter(col("ts") <= v))

  /** Change-data feed: the NET difference between the live state as of
    * `from` and as of `to` (both inclusive cutoffs, `from < to`) — one
    * row per cell whose live version changed, tagged
    * `insert` / `update` / `delete` with the before/after value and ts.
    * This is the table-format CDC read (Delta CDF / Iceberg
    * changelog shape) over the store's version log: downstream
    * consumers refresh derived state from the diff instead of
    * re-reading the full table.
    *
    * Shape at scale: both cutoff states come from the same bucketed
    * scan with a pushed `ts` predicate (row-group pruning), each
    * resolve is one window pass that shuffles at most once, on key
    * (not at all off the bucketed layout), and the final full-outer
    * join is keyed by (key,family,qualifier). Net-change semantics mean
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
    * version log is read and shuffled ONCE — a key's whole history
    * (versions + tombstones, memstore-bounded per key by the store's
    * contract) groups to one task, which replays the latest-wins +
    * tombstone-mask resolve at each cutoff in memory. This is the
    * CDC-walk shape a derived-state consumer uses to catch up over
    * several refresh points (`m16_cdc_apply`): O(one log scan), not
    * O(cutoffs × log scans). [[changesBetween]] stays the declarative
    * two-state form (Catalyst pushdown of the ts filter, one window
    * pass per cutoff — the better plan when diffing exactly two
    * cutoffs far apart). */
  def changeLog(cutoffs: Seq[Long]): DataFrame = {
    require(cutoffs.size >= 2 && cutoffs == cutoffs.sorted &&
      cutoffs.distinct.size == cutoffs.size,
      s"changeLog needs >=2 strictly increasing cutoffs, got $cutoffs")
    import spark.implicits._
    val cuts = cutoffs.toArray
    val src = cells.select(col("key"), col("family"), col("qualifier"),
        col("value"), col("ts"), col("tomb"))
      .as[(Option[Long], Option[String], Option[String], Option[String],
        Option[Long], Option[String])]
    src.groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray
        // resolved state of THIS key at cutoff v: (fam, qual) -> (ts, value)
        def stateAt(v: Long): Map[(String, String), (Long, String)] = {
          val in = rows.filter(_._5.exists(_ <= v))
          val winners = scala.collection.mutable.HashMap
            .empty[(String, String), (Long, String)]
          var rowDel = Long.MinValue
          val famDel = scala.collection.mutable.HashMap.empty[String, Long]
          val cellDel =
            scala.collection.mutable.HashMap.empty[(String, String), Long]
          in.foreach { case (_, fam, qual, value, ts, tomb) =>
            val t = ts.getOrElse(Long.MinValue)
            tomb match {
              case None =>
                val ck = (fam.orNull, qual.orNull)
                val v0 = value.orNull
                winners.get(ck) match {
                  case Some((bt, bv))
                      if bt > t || (bt == t && KVTable.cmpUtf8(bv, v0) >= 0) => ()
                  case _ => winners(ck) = (t, v0)
                }
              case Some("row") => if (t > rowDel) rowDel = t
              case Some("family") =>
                if (t > famDel.getOrElse(fam.orNull, Long.MinValue))
                  famDel(fam.orNull) = t
              case _ =>
                val ck = (fam.orNull, qual.orNull)
                if (t > cellDel.getOrElse(ck, Long.MinValue)) cellDel(ck) = t
            }
          }
          winners.filter { case ((f, q), (t, _)) =>
            t > rowDel && t > famDel.getOrElse(f, Long.MinValue) &&
              t > cellDel.getOrElse((f, q), Long.MinValue)
          }.toMap
        }
        val states = cuts.map(stateAt)
        (1 until cuts.length).iterator.flatMap { r =>
          val (b, a) = (states(r - 1), states(r))
          (b.keySet ++ a.keySet).iterator.flatMap { ck =>
            (b.get(ck), a.get(ck)) match {
              case (Some((ot, ov)), Some((nt, nv)))
                  if ot == nt && ov == nv => Iterator.empty
              case (bo, ao) if bo.isEmpty && ao.isEmpty => Iterator.empty
              case (bo, ao) =>
                val tpe = if (bo.isEmpty) "insert"
                  else if (ao.isEmpty) "delete" else "update"
                Iterator((r, key, Option(ck._1), Option(ck._2), tpe,
                  bo.map(_._2), ao.map(_._2), bo.map(_._1), ao.map(_._1)))
            }
          }
        }
      }
      .toDF("round", "key", "family", "qualifier", "change_type",
        "old_value", "new_value", "old_ts", "new_ts")
  }

  /** Data files of the log as of now — the compaction snapshot. Only
    * these files feed the rewrite, and only these are deleted after the
    * swap: a put() landing while compaction runs adds NEW part files,
    * which survive into the next log untouched (no lost-write race with
    * [[compactAsync]]). Listed through the [[graft.sources.kv.GraftFs]]
    * storage seam (local disk and HDFS alike). */
  private def listLogFiles(): Seq[String] =
    graft.sources.kv.GraftFs.dataFiles(logDir).map(_.path)

  /** Cell view pinned to an explicit log-file snapshot (compaction's
    * read side; `cells` itself re-lists the directory on every call). */
  private def cellsFrom(logFiles: Seq[String]): DataFrame = {
    val logDf =
      if (logFiles.isEmpty) emptyCells
      else spark.read.schema(CELL_SCHEMA_DDL).parquet(logFiles: _*)
    if (compactedExists) spark.table(tableName).unionByName(logDf) else logDf
  }

  /** M5-M7 bulk path: resolve + bucketed, key-sorted rewrite as a
    * catalog table + swap. One hash shuffle on the key, sorted output —
    * the HFile-pipeline shape — and, crucially, a layout Catalyst can
    * SEE: the bucketed scan reports hashpartitioning(key, numBuckets),
    * so every downstream key join / groupBy / resolve-window plans with
    * zero Exchange (the reference's RegionPartitioner advertisement,
    * RegionPartitioner.scala:12-68). Two compacted tables with the same
    * bucket count join co-located, shuffle-free on either side. */
  def compact(numBuckets: Int = 8): Unit = {
    val snapshot = listLogFiles()
    writeCompacted(KVTable.resolve(cellsFrom(snapshot)), numBuckets, snapshot)
  }

  /** M22: RESTORE — roll the live state back to the `VERSION AS OF v`
    * view by compacting THAT view into a new generation (the lakehouse
    * RESTORE/ROLLBACK command): versions and tombstones written after
    * `v` vanish from the live state in one atomic pointer flip, and
    * because the restore is itself just a new generation, a wrong
    * restore is re-restorable while the previous generation survives.
    * Subject to [[resolvedAsOf]]'s retention rule: a target older than
    * the last compaction restores what the store still retains. */
  def restoreAsOf(v: Long, numBuckets: Int = 8): Unit = {
    val snapshot = listLogFiles()
    writeCompacted(
      KVTable.resolve(cellsFrom(snapshot).filter(col("ts") <= v)),
      numBuckets, snapshot)
  }

  /** M21: ZERO-COPY shallow clone (the lakehouse CLONE contract): the
    * clone is a NEW table whose gen-0 files are hard links to this
    * table's current generation plus links to the current log files
    * ([[graft.sources.kv.GraftFs.linkOrCopy]] — the same carry-forward
    * seam the group-filtered CoW uses; an object store degrades to
    * copy behind it). O(#files) metadata work, zero data bytes moved
    * on a POSIX/HDFS-like store. The two tables then evolve
    * independently: appends land in each table's own log; each side's
    * compaction writes its OWN next generation; and pruning the
    * source's old generation cannot strand the clone, because the
    * links keep the bytes alive for as long as the clone's pointer
    * names them (KVCloneSpec pins divergence both ways across a
    * source compaction that retires the linked generation). */
  def cloneTo(destPath: String): KVTable = {
    import graft.sources.kv.{GraftFs, KVPointer}
    require(destPath != path, "clone destination must differ from source")
    val dest = KVTable(spark, destPath, wipe = true)
    currentGen.foreach { case (g, n) =>
      val dstGenDir = s"$destPath/compacted/gen-0"
      GraftFs.dataFiles(s"$path/compacted/gen-$g").foreach { f =>
        GraftFs.linkOrCopy(f.path,
          s"$dstGenDir/${f.path.substring(f.path.lastIndexOf('/') + 1)}")
      }
      KVPointer.writeGenMeta(destPath, 0, n)
      KVPointer.publish(destPath, 0, n)
    }
    listLogFiles().foreach { f =>
      GraftFs.linkOrCopy(f,
        s"$destPath/log/${f.substring(f.lastIndexOf('/') + 1)}")
    }
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
    * O(churn since horizon), the price of the replayability. */
  def compactRetaining(retainSince: Long, numBuckets: Int = 8): Unit = {
    val snapshot = listLogFiles()
    val all = cellsFrom(snapshot)
    val base = KVTable.resolve(all.filter(col("ts") <= retainSince))
      .withColumn("tomb", lit(null).cast("string"))
    val recent = all.filter(col("ts") > retainSince)
      .select(base.columns.map(col).toIndexedSeq: _*)
    writeCompactedCells(base.unionByName(recent), numBuckets, snapshot)
  }

  /** Generational rewrite. Each compaction writes a FRESH directory
    * (`compacted/gen-<N+1>`) under a FRESH catalog table
    * (`<stem>_g<N+1>`) and then flips the pointer file:
    *
    *  - the state is written exactly ONCE (reading table gen-N while
    *    creating table gen-N+1 is legal — no same-table overwrite, so
    *    no staging hop and no double write, on first load AND every
    *    re-compaction);
    *  - readers planned against gen-N keep working through the swap —
    *    their catalog entry and files both survive (the HBase
    *    scanners-hold-HFiles analogue). Generation N-1 is pruned only
    *    at the NEXT compaction, giving in-flight scans one full
    *    compaction interval to drain;
    *  - concurrent appends survive exactly as before: only the
    *    snapshot's log files are deleted after the swap. */
  private def writeCompacted(state: DataFrame, numBuckets: Int,
                             snapshotLogFiles: Seq[String]): Unit =
    writeCompactedCells(state.withColumn("tomb", lit(null).cast("string")),
      numBuckets, snapshotLogFiles)

  /** [[writeCompacted]] for CELL inputs that may legitimately carry
    * versions and tombstones ([[compactRetaining]]'s retained tail) —
    * every read path resolves tombstones wherever they live, so a
    * compacted generation holding them is just more rows. */
  private def writeCompactedCells(cells: DataFrame, numBuckets: Int,
                                  snapshotLogFiles: Seq[String]): Unit = {
    val newGen = currentGen.map(_._1 + 1).getOrElse(0)
    cells
      .repartition(numBuckets, col("key")) // align tasks with buckets: one file per bucket
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "key")
      .sortBy("key", "family", "qualifier")
      .option("path", s"$path/compacted/gen-$newGen")
      .saveAsTable(tableNameFor(newGen))
    publishGeneration(newGen, numBuckets, snapshotLogFiles)
  }

  /** The generation number a rewrite in flight right now would publish
    * (CoW row-level commits compute their target dir from this). */
  private[graft] def nextGen: Int = currentGen.map(_._1 + 1).getOrElse(0)

  /** Registers the catalog entry for a generation whose FILES were
    * written by an external (DSv2) writer — same bucketed external
    * table that `saveAsTable` would have produced, so `spark.table`
    * reads and downstream zero-Exchange key joins work identically. */
  private[graft] def registerGenerationTable(gen: Int, numBuckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableNameFor(gen)}")
    spark.sql(
      s"""CREATE TABLE ${tableNameFor(gen)} (
         |  key BIGINT, family STRING, qualifier STRING,
         |  value STRING, ts BIGINT, tomb STRING)
         |USING parquet
         |CLUSTERED BY (key) SORTED BY (key, family, qualifier)
         |INTO $numBuckets BUCKETS
         |LOCATION '$path/compacted/gen-$gen'""".stripMargin)
  }

  /** Publish + cleanup tail shared by [[compact]] and the CoW
    * row-level rewrite (sources/kv/KVCow.scala): completeness marker,
    * atomic pointer flip, snapshot log-file retirement, and pruning of
    * the drained N-1 generation. A crash at any point leaves a
    * readable table (old pointer, or marker-led recovery); appends
    * racing the rewrite live as other part files in the log directory
    * and must survive — only the SNAPSHOT's files are deleted. */
  private[graft] def publishGeneration(newGen: Int, numBuckets: Int,
                                       snapshotLogFiles: Seq[String]): Unit = {
    import graft.sources.kv.GraftFs
    graft.sources.kv.KVPointer.writeGenMeta(path, newGen, numBuckets)
    graft.sources.kv.KVPointer.publish(path, newGen, numBuckets)
    // delete ONLY the snapshot's files (plus their checksum siblings) —
    // never the directory
    snapshotLogFiles.foreach { f =>
      val slash = f.lastIndexOf('/')
      GraftFs.delete(
        f.substring(0, slash + 1) + "." + f.substring(slash + 1) + ".crc",
        recursive = false)
      GraftFs.delete(f, recursive = false)
    }
    // prune commit markers + the directory itself when no append raced
    // in — but ONLY the markers, never a data file written concurrently
    if (GraftFs.exists(logDir) && listLogFiles().isEmpty) {
      GraftFs.list(logDir).filter(e => !e.isDir &&
        (e.name.startsWith("_") || e.name.startsWith(".")))
        .foreach(e => GraftFs.delete(e.path, recursive = false))
      // no-op (returns false) if a racing put re-created content
      GraftFs.delete(logDir, recursive = false)
    }
    // retire generation N-1 (drained: it predates every scan planned
    // since the previous pointer flip)
    val retired = newGen - 2
    if (retired >= 0) {
      spark.sql(s"DROP TABLE IF EXISTS ${tableNameFor(retired)}")
      GraftFs.delete(s"$path/compacted/gen-$retired", recursive = true)
    }
  }

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

  /** Registered consumers' committed cutoffs. */
  def cdcCutoffs: Map[String, Long] =
    graft.sources.kv.GraftFs.list(consumersDir)
      .filter(e => !e.isDir && e.name.endsWith(".txt"))
      .flatMap { e =>
        graft.sources.kv.GraftFs.readString(e.path)
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
          .map(e.name.stripSuffix(".txt") -> _)
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
      val n = currentGen.map(_._2).getOrElse(8)
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
      val prevGf = spark.conf.get(groupFilterConf, "true")
      spark.conf.set("spark.graft.kv.rowlevel", decided)
      if (skipGroupFilter) spark.conf.set(groupFilterConf, "false")
      try (body, decided)
      finally {
        spark.conf.set("spark.graft.kv.rowlevel", "auto")
        spark.conf.set(groupFilterConf, prevGf)
      }
    }
  }

  /** Async bulk-load completion (reference `completeAsync`,
    * HBaseTable.scala:316-344): compaction on a background thread so the
    * writer can continue appending to the log while the heavy rewrite
    * runs. Spark jobs are thread-safe per session; the returned future
    * completes when the bucketed table is swapped in.
    *
    * Concurrency contract: concurrent APPENDS are safe (the rewrite
    * deletes only its snapshot's log files; racing part files survive),
    * and concurrent READS are safe too — compaction writes a fresh
    * generation directory and flips a pointer, and the previous
    * generation (files + catalog entry) survives until the NEXT
    * compaction, so a scan planned before the swap keeps reading valid
    * files (HBase's scanners-hold-HFiles semantics; see
    * [[writeCompacted]]). */
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
    * time and physically dropped at compaction. */
  def setFamilies(descs: Seq[FamilyDescriptor]): Unit =
    graft.sources.kv.GraftFs.writeString(familyMeta,
      descs.map(fd =>
        s"${fd.family}\t${fd.ttlSeconds}\t${fd.compression}\t${fd.bloom}\n")
        .mkString)

  def families: Seq[FamilyDescriptor] =
    graft.sources.kv.GraftFs.readString(familyMeta).toSeq
      .flatMap(_.split("\n")).filter(_.nonEmpty).map { l =>
        val f = l.split("\t")
        FamilyDescriptor(f(0), f(1).toLong, f(2), f(3).toBoolean)
      }

  /** TTL mask: cells of a TTL'd family older than (now - ttl) are dead.
    * Applied as a read filter (HBase masks expired cells at read time
    * too); compactAt() drops them physically. */
  private def ttlFilter(df: DataFrame, nowTs: Long): DataFrame = {
    val ttls = families.filter(_.ttlSeconds != Long.MaxValue)
    if (ttls.isEmpty) df
    else {
      val cutoffs = ttls.map(fd => fd.family -> (nowTs - fd.ttlSeconds))
        .foldLeft(lit(Long.MinValue)) { case (acc, (fam, cut)) =>
          when(col("family") === fam, lit(cut)).otherwise(acc)
        }
      df.filter(col("ts") > cutoffs)
    }
  }

  /** Latest-wins view with TTL enforcement as of `nowTs`. */
  def resolvedAt(nowTs: Long): DataFrame = resolve(ttlFilter(cells, nowTs))

  /** Compaction that also physically expires TTL'd cells (the
    * reference's major-compaction TTL semantics). */
  def compactAt(nowTs: Long, numBuckets: Int = 8): Unit = {
    val snapshot = listLogFiles()
    writeCompacted(KVTable.resolve(ttlFilter(cellsFrom(snapshot), nowTs)),
      numBuckets, snapshot)
  }

  /** Drop all state (log + every compacted generation + files). */
  def drop(): Unit = {
    graft.sources.kv.GraftFs.list(s"$path/compacted")
      .filter(e => e.isDir && e.name.startsWith("gen-"))
      .foreach(e => spark.sql(s"DROP TABLE IF EXISTS " +
        tableNameFor(e.name.stripPrefix("gen-").toInt)))
    KVTable.deleteRecursively(path)
  }
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

  /** UTF-8 BINARY compare with nulls smallest — the same-ts tie-break
    * order [[resolve]]'s `value desc_nulls_last` applies (Spark string
    * comparison is UTF-8 byte order); `changeLog`'s in-memory replay
    * must break ties identically or the two paths could disagree on
    * supplementary-plane values. */
  private[graft] def cmpUtf8(a: String, b: String): Int =
    if (a == null && b == null) 0 else if (a == null) -1
    else if (b == null) 1
    else {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }

  /** HBase read semantics: per (key,family,qualifier) the latest
    * non-tombstone cell wins, unless masked by a row/family/cell
    * tombstone at or above its ts (maxVersions=1 + delete markers).
    *
    * One window pass over the cells: every window is partitioned by a
    * prefix of (key, family, qualifier) and ordered by the rest of one
    * shared order, so the plan is a single hashpartitioning(key)
    * Exchange (none on a bucketed or key-grouped scan) and one Sort.
    * The masks are whole-partition maxima. `partitionBy` groups NULL
    * family/qualifier values as equal, so a NULL is a real cell
    * coordinate with null-safe (<=>) matching. Any tombstone marker
    * that is not 'row'/'family' masks at cell granularity, exactly like
    * the executor-side resolve kernel
    * ([[graft.sources.kv.KVResolveKernel]], under the resolved scan and
    * the graft-cdc replay) and [[KVTable.changeLog]]'s in-memory
    * replay; the three paths must agree cell-for-cell. */
  def resolve(cells: DataFrame): DataFrame = {
    // live cells (NULL tomb) before tombstones, then ts desc + value
    // desc: a TOTAL order within the version group, so two cells written
    // at the same (key,family,qualifier,ts) resolve to a stable winner
    // across runs (the reference's KeyValueOrdering is total for the
    // same reason, HBaseTable.scala:219-232). Plain columns only, so all
    // four windows share one sort.
    val order = Seq(col("family"), col("qualifier"), col("tomb").asc_nulls_first,
      col("ts").desc, col("value").desc_nulls_last)
    def over(depth: Int) = Window.partitionBy(col("key") +: order.take(depth): _*)
      .orderBy(order.drop(depth): _*)
    def whole(depth: Int) =
      over(depth).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def maskTs(tomb: Column, depth: Int) =
      coalesce(max(when(tomb, col("ts"))).over(whole(depth)), lit(Long.MinValue))
    val t = col("tomb")
    cells
      .withColumn("row_del_ts", maskTs(t === "row", 0))
      .withColumn("fam_del_ts", maskTs(t === "family", 1))
      .withColumn("cell_del_ts", maskTs(t =!= "row" && t =!= "family", 2))
      .withColumn("rn", row_number().over(over(2)))
      .filter(col("rn") === 1 && t.isNull && col("ts") > col("row_del_ts") &&
        col("ts") > col("fam_del_ts") && col("ts") > col("cell_del_ts"))
      .select(col("key"), col("family"), col("qualifier"), col("value"), col("ts"))
  }
}
