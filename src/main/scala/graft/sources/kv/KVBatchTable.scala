package graft.sources.kv

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 table over a graft KV layout — the engine's counterpart
  * of the reference's scan machinery (`HBaseRDD.scala:18-91`: one
  * partition per region, pushdown filter stack composed into the
  * server-side scan; `HBaseRDDFunctions.scala:54-70`: co-partitioned
  * reads advertised through the RDD's partitioner).
  *
  * The structural property this source exists for: the compacted
  * (bucketed) state and the append log are merged INSIDE each input
  * partition — partition i reads bucket i's compacted file(s) plus the
  * log rows whose key hashes to bucket i — and the scan reports
  * `KeyGroupedPartitioning(bucket(n, key))`. So the log+compacted union
  * arrives already clustered by key, and the latest-wins resolve
  * window, key groupBys, and key joins (storage-partitioned joins
  * against another KV table with the same bucket count) all plan with
  * ZERO shuffle Exchange — even when the log is non-empty, the case a
  * DataFrame-level union cannot express without re-shuffling the whole
  * table. At 100 TB the compacted side never moves; only the
  * memstore-sized log is re-read per bucket (classic LSM read
  * amplification, bounded by compaction cadence).
  *
  * Pushdown: key/family/qualifier/ts predicates prune parquet row
  * groups inside the reader (and key equality/In prunes whole
  * buckets, the analogue of the reference's multi-get partition
  * pruning, `HBaseRDDFunctions.scala:103-113`); runtime (DPP-style) In-filters
  * on the key prune buckets at execution time. Columns are pruned down
  * to the parquet page reads via the requested projection.
  */
/** @param tsMax time-travel cutoff (SQL `VERSION AS OF v`): the scan
  *   only returns cells with `ts <= v` — the reference's timestamped
  *   read (`Scan.setTimeRange(0, v+1)`, HBaseRDDFunctions.scala:39-46).
  *   The cutoff joins the pushed-filter set, so it prunes parquet row
  *   groups like any other ts predicate, and the reader keeps exactly
  *   the rows at or below it. */
class KVBatchTable(path: String, tsMax: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_cell` — the non-null row-identity struct the row-level delta
    * rewrite uses as rowId (see [[KVCellIdColumn]]) — and `_bucket` —
    * the group identity the CoW rewrite's runtime group filter keys on
    * (see [[KVBucketColumn]]); both available to any scan (synthesized
    * from the cell columns and the partition's bucket id by
    * [[KVCellProjection]]). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(KVCellIdColumn, KVBucketColumn)
  override def name(): String =
    s"graft-kv `$path`" + tsMax.fold("")(v => s" @v<=$v")
  override def schema(): StructType = KVBatchTable.CELL_SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** SQL INSERT appends to the KV log — see [[KVLogWrite]]. A
    * time-travel handle stays read-only: writing "as of v" has no
    * defined semantics here. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(tsMax.isEmpty, "cannot write to a VERSION AS OF read handle")
    new KVWriteBuilder(path, info)
  }

  /** SQL MERGE INTO / UPDATE / DELETE — delta-based (merge-on-read)
    * row-level ops by default ([[KVRowLevelOperation]]); the session
    * picks the group-based copy-on-write strategy with
    * `SET spark.graft.kv.rowlevel=cow` ([[KVCowOperation]]) — the
    * write-optimized vs read-optimized pair, per operation. `auto`
    * defers to the engine's measured selection
    * ([[graft.write.KVTable.withAutoRowLevel]] sets the concrete
    * strategy for the command's scope from the source's touched-bucket
    * fraction); a bare SQL command under `auto` — no source in reach
    * here, RowLevelOperationInfo carries none — takes the
    * write-optimized delta default. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(tsMax.isEmpty, "cannot mutate a VERSION AS OF read handle")
    val mode = org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.kv.rowlevel", "delta")
    mode match {
      case "cow"            => new KVCowBuilder(path, info)
      case "delta" | "auto" => new KVRowLevelBuilder(path, info)
      case other => throw new IllegalArgumentException(
        s"spark.graft.kv.rowlevel must be 'delta', 'cow' or 'auto', " +
          s"got '$other'")
    }
  }

  override def partitioning(): Array[Transform] = {
    val layout = KVLayout(path)
    if (layout.bucketed) Array(Expressions.bucket(layout.numBuckets, "key"))
    else Array.empty
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVScanBuilder(path, tsMax)
}

object KVBatchTable {
  val CELL_SCHEMA: StructType = StructType.fromDDL(
    graft.write.KVTable.CELL_SCHEMA_DDL)
}

class KVScanBuilder(path: String, tsMax: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = KVBatchTable.CELL_SCHEMA

  /** Accept every filter of a supported shape for IO reduction (the
    * translatable ones prune parquet row groups), but return ALL
    * filters as residual: Spark re-checks them above the scan, so
    * null/collation corner semantics stay Spark's. This is the
    * reference's model too — filters run server-side AND the client
    * trusts the scan contract (HBaseRDDFiltered.scala:8-15). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(KVFilterEval.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new KVScan(path, KVLayout(path), required,
    pushed, tsMax)
}

/** @param tsMax kept SEPARATE from `pushed`: Spark re-checks pushed
  *   filters above the scan (they are all returned as residual), but
  *   the time-travel cutoff is scan-internal — nothing re-applies it —
  *   so the reader gates rows on it exactly (see
  *   [[KVColumnarPartitionReader]]). */
class KVScan(path: String, layout: KVLayout, required: StructType,
             sparkPushed: Array[Filter], tsMax: Option[Long] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  val pushed: Array[Filter] =
    sparkPushed ++ tsMax.map(v => LessThanOrEqual("ts", v): Filter)

  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"graft-kv path=$path buckets=${layout.numBuckets} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def outputPartitioning(): Partitioning =
    if (layout.bucketed)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(layout.numBuckets, "key")), layout.numBuckets)
    else new UnknownPartitioning(0)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(layout.totalBytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // DPP-style lookup: an In(key, ...) produced by a runtime filter
  // prunes to just the buckets holding those keys — the multi-get path.
  override def filterAttributes(): Array[NamedReference] =
    if (layout.bucketed) Array(Expressions.column("key")) else Array.empty
  override def filter(filters: Array[Filter]): Unit =
    runtimeBuckets = KVFilterEval.keyBuckets(filters, layout.numBuckets)

  /** Buckets statically reachable given the pushed key predicates. */
  private def staticBuckets: Option[Set[Int]] =
    KVFilterEval.keyBuckets(pushed, layout.numBuckets)

  override def planInputPartitions(): Array[InputPartition] = {
    if (layout.bucketed) {
      val allowed = (staticBuckets, runtimeBuckets) match {
        case (Some(a), Some(b)) => a intersect b
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => (0 until layout.numBuckets).toSet
      }
      (0 until layout.numBuckets).filter(allowed)
        .map { b =>
          val comp = layout.compactedByBucket.getOrElse(b, Seq.empty)
          KVBucketPartition(b, layout.numBuckets, comp.toArray,
            comp.map(layout.lenByPath).toArray,
            layout.logFiles.toArray,
            layout.logFiles.map(layout.lenByPath).toArray): InputPartition
        }
        .toArray
    } else {
      // log-only: one partition per file — appends are memstore-sized
      layout.logFiles
        .map(f => KVBucketPartition(-1, -1, Array.empty, Array.empty,
          Array(f), Array(layout.lenByPath(f))): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    // snapshot the DRIVER's Hadoop conf for the executor-side parquet
    // opens — a bare `new Configuration(false)` would strip the
    // cluster's filesystem settings (HDFS auth, buffer sizes, S3
    // credentials providers) from every read task
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      session.map(_.sessionState.newHadoopConf())
        .getOrElse(GraftFs.hadoopConf))
    new KVReaderFactory(required, pushed, tsMax, hconf)
  }
}

/** One scan task: bucket `bucket`'s compacted files + the log rows
  * hashing to it (all log files are opened, rows filtered by bucket —
  * the log is small by compaction contract). `partitionKey` is the
  * bucket id, which is exactly the value of `bucket(n, key)` for every
  * row the task emits — the contract KeyGroupedPartitioning needs. */
case class KVBucketPartition(bucket: Int, numBuckets: Int,
                             compactedFiles: Array[String],
                             compactedLens: Array[Long],
                             logFiles: Array[String],
                             logLens: Array[Long])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Every scan decodes through [[KVColumnarPartitionReader]]. A scan
  * that requests the `_cell` / `_bucket` metadata columns cannot be
  * columnar (they are computed, not decoded), so it gets a row view
  * over the decoded cell batches that synthesizes them
  * ([[KVCellRowReader]]). Correctness contract: every Spark-pushed
  * filter is also re-applied ABOVE the scan (KVScanBuilder returns
  * them all as residual), so the reader only prunes row groups with
  * them; the row gates the reader must own itself are the bucket gate
  * on log rows (a partition-integrity property) and the `VERSION AS
  * OF` cutoff (scan-internal, nothing above re-applies it). */
class KVReaderFactory(required: StructType, filters: Array[Filter],
                      tsMax: Option[Long],
                      hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  private val synthesized = required.fieldNames.exists(n =>
    n == KVCellIdColumn.NAME || n == KVBucketColumn.NAME)

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !synthesized

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new KVColumnarPartitionReader(partition.asInstanceOf[KVBucketPartition],
      required, filters, tsMax, hconf)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KVBucketPartition]
    new KVCellRowReader(new KVColumnarPartitionReader(
      p, KVBatchTable.CELL_SCHEMA, filters, tsMax, hconf),
      new KVCellProjection(required, p))
  }
}

/** Projects one cell — its six `CELL_SCHEMA` values — onto a scan's
  * required columns, synthesizing the `_cell` struct from the cell's
  * coordinates and `_bucket` from the partition (every row a task
  * emits is bucket-gated to it; -1 on an unbucketed layout). */
private[kv] final class KVCellProjection(required: StructType,
                                         p: KVBucketPartition) {
  private val bucketVal =
    java.lang.Integer.valueOf(if (p.numBuckets > 0) p.bucket else -1)
  private val outIdx: Array[Int] = required.fieldNames.map {
    case KVCellIdColumn.NAME => -1
    case KVBucketColumn.NAME => -2
    case n => KVBatchTable.CELL_SCHEMA.fieldIndex(n)
  }

  def apply(cell: Array[Any]): InternalRow = new GenericInternalRow(outIdx.map {
    case -1 => new GenericInternalRow(Array[Any](cell(0), cell(1), cell(2), cell(4)))
    case -2 => bucketVal
    case i => cell(i)
  })
}

/** Row view over full-`CELL_SCHEMA` cell batches, one projected row per
  * decoded cell. */
private[kv] class KVCellRowReader(cols: KVColumnarPartitionReader,
                                  proj: KVCellProjection)
    extends PartitionReader[InternalRow] {
  private val types = KVBatchTable.CELL_SCHEMA.fields.map(_.dataType)
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var r = 0
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (batch == null || r >= batch.numRows()) {
      if (!cols.next()) return false
      batch = cols.get(); r = 0
    }
    row = proj(Array.tabulate[Any](types.length) { i =>
      val c = batch.column(i)
      if (c.isNullAt(r)) null
      else if (types(i) == LongType) java.lang.Long.valueOf(c.getLong(r))
      else c.getUTF8String(r)
    })
    r += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = cols.close()
}

/** The KV source's one parquet decoder. Compacted and log files alike
  * stream through Spark's VectorizedParquetRecordReader (batch decode,
  * dictionary-aware, row groups pruned by the translated pushed
  * filters). Rows are gated only where the reader itself owns a row
  * rule, and the surviving rows are packed into on-heap column vectors:
  *  - the bucket gate on log rows — every bucket task opens the whole
  *    log, so it keeps only the rows whose key hashes to its bucket.
  *    With one bucket (or on a log-only layout) every key hashes to the
  *    task's bucket and the gate is skipped;
  *  - the `VERSION AS OF` cutoff `tsMax`, on both legs: exactly the
  *    rows with `ts <= tsMax` (null `ts` dropped) — row-group pruning
  *    alone keeps any group whose minimum is below the cutoff.
  * A gate column the projection pruned (`key`, `ts`) is appended to the
  * leg's read schema and projected back out when packing; a batch with
  * no active gate is handed through as decoded. Pushed filters are NOT
  * re-evaluated per row: Spark re-applies every one of them above the
  * scan (KVScanBuilder returns them all as residual). Output order
  * (compacted then log) is irrelevant: every consumer of this scan
  * resolves or aggregates per key. */
class KVColumnarPartitionReader(p: KVBucketPartition, required: StructType,
                                filters: Array[Filter], tsMax: Option[Long],
                                hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import org.apache.spark.sql.types.StructField

  private val CAP = 4096
  private val rowGroupPredicate = KVParquetFilters.predicate(filters)

  // GraftBucket.of(_, 1) == 0 for every key: a 1-bucket gate is a no-op
  private val bucketGate = p.numBuckets > 1
  private def withCols(cols: Seq[String]): StructType = StructType(required.fields ++
    cols.filterNot(required.fieldNames.contains).map(StructField(_, LongType)))
  private val compSchema = withCols(tsMax.map(_ => "ts").toSeq)
  private val logSchema =
    withCols((if (bucketGate) Seq("key") else Nil) ++ tsMax.map(_ => "ts"))
  private val files = p.compactedFiles ++ p.logFiles
  private val lens = p.compactedLens ++ p.logLens

  private var fileIdx = 0
  private var inLog = false
  private var vec: VectorizedParquetRecordReader = _
  private var batch: ColumnarBatch = _

  private def openVectorized(f: String, fLen: Long,
                             schema: StructType): VectorizedParquetRecordReader = {
    // split length from the planning-time listing: these are qualified
    // URIs (file:/..., hdfs://...) that java.io.File would stat as 0,
    // and a zero-length split selects no row groups
    val conf = new Configuration(hconf.value)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // Spark's schema converter reads these from the Hadoop conf with no
    // fallback (the file-format path copies them from the session);
    // values = Spark's defaults, fixed here because the cell schema has
    // no binary/int96/timestamp columns for them to matter to
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", false)
    rowGroupPredicate.foreach(
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, _))
    // the mapred variant: Spark's reader base casts the split to it
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(f), 0, fLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID(
        "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
    val r = new VectorizedParquetRecordReader(false, CAP)
    try {
      r.initialize(split, ctx)
      r.initBatch(new StructType(), InternalRow.empty)
      r.enableReturningBatches()
    } catch { case e: Throwable => r.close(); throw e }
    r
  }

  override def next(): Boolean = {
    while (true) {
      if (vec == null) {
        if (fileIdx >= files.length) return false
        inLog = fileIdx >= p.compactedFiles.length
        vec = openVectorized(files(fileIdx), lens(fileIdx),
          if (inLog) logSchema else compSchema)
        fileIdx += 1
      }
      if (!vec.nextKeyValue()) { vec.close(); vec = null }
      else {
        val src = vec.getCurrentValue.asInstanceOf[ColumnarBatch]
        val gateBucket = inLog && bucketGate
        if (!gateBucket && tsMax.isEmpty) { batch = src; return true }
        batch = gate(src, gateBucket, if (inLog) logSchema else compSchema)
        if (batch != null) return true
      }
    }
    false
  }

  /** The rows of `src` (read as `schema`) that pass the active gates,
    * packed into fresh vectors projected back to `required` (whose
    * columns lead `schema`); null when no row passes. */
  private def gate(src: ColumnarBatch, gateBucket: Boolean,
                   schema: StructType): ColumnarBatch = {
    val n = src.numRows()
    val kCol = if (gateBucket) src.column(schema.fieldIndex("key")) else null
    val tCol = if (tsMax.isDefined) src.column(schema.fieldIndex("ts")) else null
    val cut = tsMax.getOrElse(Long.MaxValue)
    val out = OnHeapColumnVector.allocateColumns(n.max(1), required)
    var m = 0
    var r = 0
    while (r < n) {
      val keep =
        (tCol == null || (!tCol.isNullAt(r) && tCol.getLong(r) <= cut)) &&
          (kCol == null || GraftBucket.of(
            if (kCol.isNullAt(r)) null else java.lang.Long.valueOf(kCol.getLong(r)),
            p.numBuckets) == p.bucket)
      if (keep) {
        var i = 0
        while (i < required.length) {
          val sc = src.column(i)
          if (sc.isNullAt(r)) out(i).putNull(m)
          else required.fields(i).dataType match {
            case LongType => out(i).putLong(m, sc.getLong(r))
            case _ =>
              val b = sc.getUTF8String(r).getBytes
              out(i).putByteArray(m, b, 0, b.length)
          }
          i += 1
        }
        m += 1
      }
      r += 1
    }
    if (m == 0) { out.foreach(_.close()); null }
    else new ColumnarBatch(out.map(v => v: ColumnVector).toArray, m)
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = if (vec != null) vec.close()
}

/** Spark `Filter` → parquet-mr `FilterPredicate` translation, so the
  * reader skips whole row groups on column min/max statistics (and
  * dictionary pages) before decoding anything — the engine-side
  * analogue of the reference's server-side scan properties
  * (`setTimeRange`, key-bounded scans; HBaseRDDFunctions.scala:39-46).
  * With key-sorted compacted files a key-range predicate prunes most
  * row groups; a ts-range predicate prunes old groups in append-ordered
  * logs. Translation is all-or-nothing per filter tree (a partially
  * translated Or/Not would be wrong); untranslatable conjuncts are
  * simply dropped — Spark re-checks every filter above the scan. */
object KVParquetFilters {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  private def isLong(attr: String) = attr == "key" || attr == "ts"
  private def num(v: Any): Option[java.lang.Long] = v match {
    case n: java.lang.Number => Some(java.lang.Long.valueOf(n.longValue()))
    case _ => None
  }
  private val NullLong = null.asInstanceOf[java.lang.Long]
  private val NullBin = null.asInstanceOf[Binary]

  def translate(f: Filter): Option[FilterPredicate] = f match {
    case And(l, r) =>
      for { a <- translate(l); b <- translate(r) } yield FilterApi.and(a, b)
    case Or(l, r) =>
      for { a <- translate(l); b <- translate(r) } yield FilterApi.or(a, b)
    case Not(c) => translate(c).map(FilterApi.not)
    case EqualTo(a, v) if isLong(a) =>
      num(v).map(FilterApi.eq(FilterApi.longColumn(a), _))
    case EqualTo(a, v: String) =>
      Some(FilterApi.eq(FilterApi.binaryColumn(a), Binary.fromString(v)))
    case GreaterThan(a, v) if isLong(a) =>
      num(v).map(FilterApi.gt(FilterApi.longColumn(a), _))
    case GreaterThanOrEqual(a, v) if isLong(a) =>
      num(v).map(FilterApi.gtEq(FilterApi.longColumn(a), _))
    case LessThan(a, v) if isLong(a) =>
      num(v).map(FilterApi.lt(FilterApi.longColumn(a), _))
    case LessThanOrEqual(a, v) if isLong(a) =>
      num(v).map(FilterApi.ltEq(FilterApi.longColumn(a), _))
    case In(a, vs) if isLong(a) && vs.nonEmpty && vs.length <= 64 =>
      val eqs = vs.flatMap(num).map(l =>
        FilterApi.eq(FilterApi.longColumn(a), l): FilterPredicate)
      if (eqs.length == vs.length) eqs.reduceOption(FilterApi.or(_, _)) else None
    case IsNull(a) =>
      Some(if (isLong(a)) FilterApi.eq(FilterApi.longColumn(a), NullLong)
           else FilterApi.eq(FilterApi.binaryColumn(a), NullBin))
    case IsNotNull(a) =>
      Some(if (isLong(a)) FilterApi.notEq(FilterApi.longColumn(a), NullLong)
           else FilterApi.notEq(FilterApi.binaryColumn(a), NullBin))
    case _ => None
  }

  /** Conjunction of every translatable filter — the row-group pruning
    * predicate [[KVColumnarPartitionReader]] sets on every file it
    * opens. */
  def predicate(filters: Array[Filter]): Option[FilterPredicate] =
    filters.flatMap(translate(_)).reduceOption(FilterApi.and(_, _))
}

/** Which Spark V1 `Filter`s the KV scans accept, and the buckets a
  * filter set's key predicates can reach. */
object KVFilterEval {
  def supported(f: Filter): Boolean = f match {
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull | _: StringStartsWith |
         _: StringEndsWith | _: StringContains => true
    case _ => false
  }

  /** Bucket ids reachable under the (conjunctive) filters' key
    * equality/In predicates; None = all buckets. */
  def keyBuckets(filters: Array[Filter], numBuckets: Int): Option[Set[Int]] = {
    if (numBuckets <= 0) return None
    def longOf(a: Any): Option[Long] = a match {
      case n: java.lang.Number => Some(n.longValue()); case _ => None
    }
    val sets = filters.collect {
      case EqualTo("key", lit) =>
        longOf(lit).map(l => Set(GraftBucket.of(l, numBuckets)))
          .getOrElse((0 until numBuckets).toSet)
      case In("key", vs) =>
        vs.flatMap(longOf).map(GraftBucket.of(_, numBuckets)).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}
