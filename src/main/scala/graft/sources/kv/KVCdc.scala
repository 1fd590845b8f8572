package graft.sources.kv

import java.util.concurrent.ConcurrentHashMap

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Change-data feed over a graft KV table — `changesBetween`
  * (write/KVStore.scala) as a DataSourceV2 source. Two reads share one
  * bucket-local reader ([[KVCdcPartitionReader]]):
  *
  * {{{
  *   // standing stream, the version-log CUTOFF as the offset
  *   spark.readStream.format("graft-cdc")
  *     .option("path", tablePath)
  *     .option("startTs", "1")   // initial cutoff (exclusive)
  *     .option("stepTs", "1")    // max cutoff advance per micro-batch
  *     .load()
  *   // batch walk over ascending cutoffs (KVTable.changeLog)
  *   spark.read.format("graft-cdc")
  *     .option("path", tablePath)
  *     .option("cutoffs", "1,2,3,4")
  *     .load()
  * }}}
  *
  * Each micro-batch emits the NET difference between the live states
  * as of `start` and `end` (both cell-timestamp cutoffs) — one row per
  * cell whose live version changed, tagged insert/update/delete with
  * before/after values, exactly [[graft.write.KVTable.changesBetween]]'s
  * shape. A consumer folding each batch into derived state turns the
  * m16 catch-up loop into a STANDING incremental-MV stream (st12). The
  * batch read emits the same diff for every adjacent cutoff pair,
  * prefixed by `round` = the index of the later cutoff.
  *
  * Shape at scale: the diff is computed bucket-locally inside each
  * scan task — a (key,family,qualifier) group lives in exactly one
  * bucket, so a single pass over the bucket's files replays every
  * cutoff state in memory (one ts/value slot per cutoff and live cell,
  * the same footprint class as the resolved scan) and no shuffle ever
  * runs. A log-only table is one task, the memstore-sized contract the
  * resolved scan relies on too. Offset discovery reads parquet FOOTERS
  * only (max `ts` column statistic per immutable file, cached), never
  * data pages. `stepTs` is the rate limiter: a consumer catching up
  * over a long history advances at most that many cutoff units per
  * trigger, bounding per-batch work.
  *
  * Consumption contract: a cutoff is consumed as soon as ANY file
  * holding a cell at that ts is visible — the high-water offset is the
  * newest footer ts. Writers must therefore commit each ts in one
  * commit: a file landing later at an already-consumed ts (or below
  * it) falls inside both cutoff states of every later window and is
  * never delivered to a running stream.
  *
  * Replay/restart contract: offsets are plain cutoffs, so a replayed
  * `(start, end]` window recomputes the identical diff from the
  * immutable files (KVCdcSpec pins this); the [[graft.write.KVTable
  * .resolvedAsOf]] retention rule applies — a compaction that already
  * retired versions older than a replayed `start` folds those changes
  * into their net effect, the standard CDC-on-compacted-log caveat
  * (Delta CDF has the same one).
  */
class KVCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("cutoffs")) KVCdc.LOG_SCHEMA else KVCdc.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty,
      "graft-cdc needs .option(\"path\", <kv table path>)")
    val cutoffs = Option(opts.get("cutoffs")).map(_.split(",").map(_.trim.toLong))
    cutoffs.foreach(c => require(c.length >= 2 && c.sliding(2).forall(p => p(0) < p(1)),
      s"graft-cdc needs >=2 strictly increasing cutoffs, got ${c.mkString(",")}"))
    new KVCdcTable(path, opts.getLong("startTs", 0L),
      opts.getLong("stepTs", Long.MaxValue), cutoffs)
  }
}

object KVCdc {
  val SCHEMA: StructType = StructType.fromDDL(
    "key BIGINT, family STRING, qualifier STRING, change_type STRING, " +
      "old_value STRING, new_value STRING, old_ts BIGINT, new_ts BIGINT")

  /** The batch walk's rows: `round` (index of the later cutoff), then
    * [[SCHEMA]]. */
  val LOG_SCHEMA: StructType =
    StructType(StructField("round", IntegerType, nullable = false) +: SCHEMA.fields)

  def readerFactory(withRound: Boolean): PartitionReaderFactory = {
    val hconf = GraftFs.readerConf()
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val cp = p.asInstanceOf[KVCdcPartition]
        new KVCdcPartitionReader(cp.inner, cp.cuts, withRound, hconf)
      }
    }
  }
}

/** @param cutoffs set: a batch read of the walk over these ascending
  *   cutoffs; unset: a micro-batch stream from `startTs`. */
class KVCdcTable(path: String, startTs: Long, stepTs: Long,
                 cutoffs: Option[Array[Long]])
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc `$path`"
  override def schema(): StructType =
    if (cutoffs.isDefined) KVCdc.LOG_SCHEMA else KVCdc.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      if (cutoffs.isDefined) TableCapability.BATCH_READ
      else TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema()
        override def description(): String =
          s"graft-cdc path=$path" + cutoffs.fold("")(c => s" cutoffs=${c.mkString(",")}")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KVCdcMicroBatchStream(path, startTs, stepTs)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            KVLayout(path).bucketPartitions()
              .map(KVCdcPartition(_, cutoffs.get): InputPartition)
          override def createReaderFactory(): PartitionReaderFactory =
            KVCdc.readerFactory(withRound = true)
        }
      }
    }
}

/** Long cutoff as a streaming offset. */
case class KVCdcOffset(ts: Long) extends Offset {
  override def json(): String = ts.toString
}

class KVCdcMicroBatchStream(path: String, startTs: Long, stepTs: Long)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // footer max-ts per immutable data file — read once while the file is
  // listed; entries for files a compaction retired are dropped
  private val footerMax = new ConcurrentHashMap[String, java.lang.Long]()

  /** Files whose footer max-ts is cached. */
  private[graft] def cachedFooters: Int = footerMax.size

  private def hconf = GraftFs.hadoopConf

  private def footerMaxTs(f: String): Long =
    footerMax.computeIfAbsent(f, { _ =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new HPath(f), hconf))
      try {
        val m = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .filter(_.getPath.toDotString == "ts")
            .flatMap(c => Option(c.getStatistics))
            .collect {
              case s if s.hasNonNullValue =>
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            }
        }
        java.lang.Long.valueOf(
          if (m.isEmpty) Long.MinValue else m.max)
      } finally r.close()
    }).longValue()

  /** Newest cell timestamp any file holds — the high-water cutoff. */
  private def maxTsAvailable(): Long = {
    val layout = KVLayout(path)
    val files = layout.logFiles ++ layout.compactedByBucket.values.flatten
    footerMax.keySet.retainAll(files.toSet.asJava)
    files.foldLeft(startTs)((acc, f) => math.max(acc, footerMaxTs(f)))
  }

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(maxTsAvailable())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = KVCdcOffset(startTs)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KVCdcOffset].ts
    val target = availableNowTarget.getOrElse(maxTsAvailable())
    val stepped =
      if (stepTs == Long.MaxValue || s > target - stepTs) target
      else s + stepTs
    KVCdcOffset(math.max(s, stepped))
  }

  override def reportLatestOffset(): Offset = KVCdcOffset(maxTsAvailable())

  override def deserializeOffset(json: String): Offset =
    KVCdcOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[KVCdcOffset].ts
    val to = end.asInstanceOf[KVCdcOffset].ts
    if (from >= to) Array.empty
    else KVLayout(path).bucketPartitions()
      .map(KVCdcPartition(_, Array(from, to)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KVCdc.readerFactory(withRound = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class KVCdcPartition(inner: KVBucketPartition, cuts: Array[Long])
    extends InputPartition

/** Bucket-local multi-cutoff replay: one [[KVResolveKernel]] pass over
  * the bucket's cells (ts ≤ the last cutoff pushed to the parquet layer
  * as a row-group filter) resolves the live state at every cutoff — a
  * row feeds every cutoff at or above its ts — then emits each adjacent
  * pair's net per-cell differences, prefixed by `round` (the index of
  * the later cutoff) when `withRound`. */
class KVCdcPartitionReader(p: KVBucketPartition, cuts: Array[Long],
                           withRound: Boolean,
                           hconf: GraftFs.ReaderConf)
    extends PartitionReader[InternalRow] {

  private val T_INSERT = UTF8String.fromString("insert")
  private val T_UPDATE = UTF8String.fromString("update")
  private val T_DELETE = UTF8String.fromString("delete")

  private val iter: Iterator[InternalRow] = {
    val k = KVResolveKernel.run(p, cuts,
      Array(LessThanOrEqual("ts", cuts.last): Filter), hconf)
    k.cells.flatMap(s => Iterator.range(1, cuts.length).flatMap { r =>
      val bLive = k.isLive(s, r - 1); val aLive = k.isLive(s, r)
      val bt = k.ts(s, r - 1); val at = k.ts(s, r)
      if (!(bLive || aLive) ||
          (bLive && aLive && bt == at && k.value(s, r - 1) == k.value(s, r))) None
      else {
        val diff = Array[Any](
          k.key(s), k.family(s), k.qualifier(s),
          if (!bLive) T_INSERT else if (!aLive) T_DELETE else T_UPDATE,
          if (bLive) k.value(s, r - 1) else null,
          if (aLive) k.value(s, r) else null,
          if (bLive) java.lang.Long.valueOf(bt) else null,
          if (aLive) java.lang.Long.valueOf(at) else null)
        Some(new GenericInternalRow(
          if (withRound) Integer.valueOf(r) +: diff else diff): InternalRow)
      }
    })
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { row = iter.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
