package graft.sources.kv

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL row-level operations (`MERGE INTO` / `UPDATE` / `DELETE`) on a
  * graft KV table — the reference's typed mutation API (M1–M7,
  * HBaseTable.scala:100-212) driven from SQL, the way a 100-TB pipeline
  * actually issues upserts.
  *
  * DELTA-based by design: a log-structured store never rewrites groups —
  *  - MERGE UPDATE / UPDATE appends the new cell version (latest-wins
  *    on `ts` resolves it, so assignments should set `ts` above the
  *    current version's, exactly like a library `put`);
  *  - MERGE INSERT appends a fresh cell;
  *  - DELETE appends a tombstone at the LIVE version's ts (row /
  *    family / cell granularity inferred from the id's null pattern,
  *    the same rule as `KVTable.delete`) — masking everything at or
  *    below it while later writes stay visible, HBase delete-marker
  *    semantics.
  * The write lands through the same two-phase inflight-rename commit as
  * SQL INSERT ([[KVLogWrite]]), so readers racing a MERGE see a prefix
  * of complete parquet files and failed attempts leave nothing behind.
  *
  * The operation's READ side is [[KVResolvedScan]]: row-level SQL must
  * see the table as ROWS (the live, latest-wins state), not as the raw
  * version log — a MERGE that matched superseded versions or tombstone
  * markers would mis-fire its matched/not-matched arms. The resolve
  * runs bucket-locally inside each scan task (a (key,family,qualifier)
  * group lives in exactly one bucket), so the scan stays shuffle-free
  * and reports the same KeyGroupedPartitioning as the plain read path.
  */
class KVRowLevelBuilder(path: String, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new KVRowLevelOperation(path, info.command)
}

class KVRowLevelOperation(path: String,
                          cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-kv $cmd `$path`"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVResolvedScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new KVDeltaWriteBuilder(path, info)

  /** The `_cell` METADATA column (a cell's identity plus its live
    * version's ts — the ts rides along so DELETE can place its
    * tombstone exactly at the version it saw, masking at-or-below while
    * later writers stay visible). A metadata struct rather than the
    * data columns because Spark requires row-id attributes NON-NULL,
    * and the cell schema's family/qualifier are legitimately nullable
    * (tombstone markers); the struct is non-null by construction on the
    * resolved scan — the Iceberg `_file`/`_pos` pattern. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(KVCellIdColumn.NAME))
}

/** `_cell` metadata column: the non-null row identity the delta
  * rewrite projects for UPDATE/DELETE routing. */
object KVCellIdColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val NAME = "_cell"
  val SCHEMA: StructType = StructType.fromDDL(
    "key BIGINT, family STRING, qualifier STRING, ts BIGINT")
  override def name(): String = NAME
  override def dataType(): org.apache.spark.sql.types.DataType = SCHEMA
  override def isNullable: Boolean = false
  override def comment(): String =
    "graft cell identity (key, family, qualifier, ts of the live version)"
}

/** `_bucket` metadata column: the row's bucket id in the compacted
  * layout (`pmod(murmur3(key), numBuckets)`, [[GraftBucket]]) — the
  * GROUP identity of the copy-on-write row-level path. The CoW
  * operation declares it via `requiredMetadataAttributes`, Spark's
  * runtime group-filter rule collects the DISTINCT matched buckets and
  * pushes them back into the scan ([[KVCowScan.filter]]), and the
  * commit then rewrites only those buckets' files (KVCow.scala).
  * `-1` on a never-compacted table (no bucketed layout to group by). */
object KVBucketColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val NAME = "_bucket"
  override def name(): String = NAME
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def isNullable: Boolean = false
  override def comment(): String =
    "graft bucket id of the row's key in the compacted layout"
}

// --- write side ------------------------------------------------------

class KVDeltaWriteBuilder(path: String, info: LogicalWriteInfo)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new KVDeltaWrite(path, info.queryId())
}

/** Shares [[KVLogWrite]]'s inflight-directory commit protocol; only the
  * writer factory differs (delta ops instead of plain appends). */
class KVDeltaWrite(path: String, queryId: String)
    extends KVLogWrite(path, queryId) with DeltaWrite with DeltaBatchWrite {
  override def toBatch: DeltaBatchWrite = this
  override def description(): String = s"graft-kv delta `$path`"
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new KVDeltaWriterFactory(inflightDir)
}

class KVDeltaWriterFactory(inflight: String) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new KVDeltaDataWriter(inflight, partitionId, taskId)
}

/** Translates delta ops to cells in one task-local parquet file:
  * insert/update append the (full-schema) row as-is; delete appends a
  * tombstone derived from the row id `(key, family, qualifier, ts)` —
  * granularity by null pattern, as in `KVTable.delete`. */
class KVDeltaDataWriter(inflight: String, partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {
  private val inner = new KVLogDataWriter(inflight, partitionId, taskId)

  override def insert(row: InternalRow): Unit = inner.write(row)

  /** An UPDATE whose assignment does not RAISE `ts` would append a
    * version that ties (or loses to) the live one, and latest-wins
    * would silently leave the update without effect. Enforce the
    * contract at write time: unchanged ts auto-bumps to live+1 (the
    * library `put`-at-now behavior), a ts BELOW the live version is a
    * hard error — writing history through UPDATE is a bug, the
    * versioned `put` API is the way to backfill. */
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val c = id.getStruct(0, 4)
    val liveTs = if (c.isNullAt(3)) Long.MinValue else c.getLong(3)
    val newTs = if (row.isNullAt(4)) Long.MinValue else row.getLong(4)
    if (newTs > liveTs) inner.write(row)
    else if (newTs == liveTs) {
      // liveTs + 1 would wrap to Long.MinValue and silently LOSE to
      // every existing version — the exact no-effect update this
      // auto-bump exists to prevent. Fail fast instead.
      if (liveTs == Long.MaxValue) throw new IllegalArgumentException(
        "UPDATE matched a cell whose live version has ts=Long.MaxValue; " +
          "the ts auto-bump cannot exceed it. Assign an explicit ts " +
          "semantics-compatible with the sentinel, or delete the " +
          "sentinel version first.")
      val bumped = new GenericInternalRow(Array[Any](
        if (row.isNullAt(0)) null else java.lang.Long.valueOf(row.getLong(0)),
        if (row.isNullAt(1)) null else row.getUTF8String(1),
        if (row.isNullAt(2)) null else row.getUTF8String(2),
        if (row.isNullAt(3)) null else row.getUTF8String(3),
        java.lang.Long.valueOf(if (liveTs == Long.MinValue) Long.MinValue + 1
          else liveTs + 1),
        if (row.isNullAt(5)) null else row.getUTF8String(5)))
      inner.write(bumped)
    } else throw new IllegalArgumentException(
      s"UPDATE assigned ts=$newTs below the live version's ts=$liveTs " +
        "for the matched cell; latest-wins would ignore the update. " +
        "Raise ts in the assignment (or omit it to auto-bump), or use " +
        "the versioned put API to write historical versions.")
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    // id = the `_cell` struct (key, family, qualifier, ts)
    val c = id.getStruct(0, 4)
    val family = if (c.isNullAt(1)) null else c.getUTF8String(1)
    val qualifier = if (c.isNullAt(2)) null else c.getUTF8String(2)
    val tomb = if (family == null) "row"
      else if (qualifier == null) "family" else "cell"
    inner.write(new GenericInternalRow(Array[Any](
      if (c.isNullAt(0)) null else java.lang.Long.valueOf(c.getLong(0)),
      family, qualifier, null,
      if (c.isNullAt(3)) null else java.lang.Long.valueOf(c.getLong(3)),
      UTF8String.fromString(tomb))))
  }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

// --- read side: the resolved (latest-wins) scan ----------------------

class KVResolvedScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = KVBatchTable.CELL_SCHEMA

  /** Only KEY predicates may run below the resolve: a filter on any
    * other column could drop the winning version or a tombstone marker
    * BEFORE resolution and resurrect superseded state (e.g.
    * `family = 'F'` discards row-granularity tombstones, whose family
    * is null). Key predicates are resolve-safe — every row of a key's
    * resolve group (versions and its masks alike) carries the key —
    * and they are what prunes buckets. Everything is returned as
    * residual for Spark to re-check above the resolve. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      f.references.toSet == Set("key") && KVFilterEval.supported(f))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new KVResolvedScan(path, KVLayout(path), required, pushed)
}

class KVResolvedScan(path: String, layout: KVLayout,
                     required: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsReportPartitioning {

  /** Buckets injected at RUNTIME (the CoW group filter, [[KVCowScan]]);
    * None = no runtime restriction. */
  @volatile protected var runtimeBuckets: Option[Set[Int]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv-resolved path=$path buckets=${layout.numBuckets} " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def outputPartitioning(): Partitioning =
    if (layout.bucketed)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(layout.numBuckets, "key")), layout.numBuckets)
    else new UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] =
    if (layout.bucketed) {
      val static = KVFilterEval.keyBuckets(pushed, layout.numBuckets)
        .getOrElse((0 until layout.numBuckets).toSet)
      val allowed = runtimeBuckets.fold(static)(static intersect _)
      (0 until layout.numBuckets).filter(allowed)
        .map { b =>
          val comp = layout.compactedByBucket.getOrElse(b, Seq.empty)
          KVBucketPartition(b, layout.numBuckets, comp.toArray,
            comp.map(layout.lenByPath).toArray,
            layout.logFiles.toArray,
            layout.logFiles.map(layout.lenByPath).toArray): InputPartition
        }
        .toArray
    } else if (layout.logFiles.nonEmpty) {
      // log-only: the resolve group spans files, so ONE task reads them
      // all — safe by the layout contract (an uncompacted table is
      // memstore-sized; compaction is what buys distribution)
      Array(KVBucketPartition(-1, -1, Array.empty, Array.empty,
        layout.logFiles.toArray,
        layout.logFiles.map(layout.lenByPath).toArray))
    } else Array.empty

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      session.map(_.sessionState.newHadoopConf())
        .getOrElse(GraftFs.hadoopConf))
    new KVResolvedReaderFactory(required, pushed, hconf)
  }
}

class KVResolvedReaderFactory(required: StructType, pushed: Array[Filter],
                              hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KVResolvedPartitionReader(
      partition.asInstanceOf[KVBucketPartition], required, pushed, hconf)
}

/** Bucket-local latest-wins resolve: the live cells of one
  * [[KVResolveKernel]] pass at cutoff `Long.MaxValue`, projected onto
  * the required columns plus the `_cell` / `_bucket` metadata. The
  * pushed key predicates prune row groups only — resolve-safe, since a
  * key's whole resolve group carries the key — and Spark re-checks them
  * above the scan. */
class KVResolvedPartitionReader(p: KVBucketPartition, required: StructType,
                                pushed: Array[Filter],
                                hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val iter: Iterator[InternalRow] = {
    val k = KVResolveKernel.run(p, Array(Long.MaxValue), pushed, hconf)
    val proj = new KVCellProjection(required, p)
    k.cells.filter(k.isLive(_, 0)).map(s => proj(Array[Any](
      k.key(s), k.family(s), k.qualifier(s), k.value(s, 0),
      java.lang.Long.valueOf(k.ts(s, 0)), null)))
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { row = iter.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
