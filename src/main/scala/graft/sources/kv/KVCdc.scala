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
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING change-data feed over a graft KV table — `changesBetween`
  * (write/KVStore.scala) exposed as a rate-limited `readStream`
  * source, with the version-log CUTOFF as the stream offset:
  *
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("path", tablePath)
  *     .option("startTs", "1")   // initial cutoff (exclusive)
  *     .option("stepTs", "1")    // max cutoff advance per micro-batch
  *     .load()
  * }}}
  *
  * Each micro-batch emits the NET difference between the live states
  * as of `start` and `end` (both cell-timestamp cutoffs) — one row per
  * cell whose live version changed, tagged insert/update/delete with
  * before/after values, exactly [[graft.write.KVTable.changesBetween]]'s
  * shape. A consumer folding each batch into derived state turns the
  * m16 catch-up loop into a STANDING incremental-MV stream (st12).
  *
  * Shape at scale: the diff is computed bucket-locally inside each
  * scan task — a (key,family,qualifier) group lives in exactly one
  * bucket, so a single pass over the bucket's files replays both
  * cutoff states in memory (2× the bucket's live cells, the same
  * footprint class as the resolved scan) and no shuffle ever runs.
  * Offset discovery reads parquet FOOTERS only (max `ts` column
  * statistic per immutable file, cached), never data pages. `stepTs`
  * is the rate limiter: a consumer catching up over a long history
  * advances at most that many cutoff units per trigger, bounding
  * per-batch work.
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
    KVCdc.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-cdc needs .option(\"path\", <kv table path>)")
    new KVCdcTable(path,
      Option(properties.get("startts")).orElse(
        Option(properties.get("startTs"))).map(_.toLong).getOrElse(0L),
      Option(properties.get("stepts")).orElse(
        Option(properties.get("stepTs"))).map(_.toLong).getOrElse(Long.MaxValue))
  }
}

object KVCdc {
  val SCHEMA: StructType = StructType.fromDDL(
    "key BIGINT, family STRING, qualifier STRING, change_type STRING, " +
      "old_value STRING, new_value STRING, old_ts BIGINT, new_ts BIGINT")
}

class KVCdcTable(path: String, startTs: Long, stepTs: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc `$path`"
  override def schema(): StructType = KVCdc.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KVCdc.SCHEMA
        override def description(): String = s"graft-cdc path=$path"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KVCdcMicroBatchStream(path, startTs, stepTs)
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

  // footer max-ts per immutable data file — read once, ever
  private val footerMax = new ConcurrentHashMap[String, java.lang.Long]()

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
    if (from >= to) return Array.empty
    val layout = KVLayout(path)
    val buckets: Array[KVBucketPartition] =
      if (layout.bucketed) {
        (0 until layout.numBuckets).map { b =>
          val comp = layout.compactedByBucket.getOrElse(b, Seq.empty)
          KVBucketPartition(b, layout.numBuckets, comp.toArray,
            comp.map(layout.lenByPath).toArray, layout.logFiles.toArray,
            layout.logFiles.map(layout.lenByPath).toArray)
        }.toArray
      } else if (layout.logFiles.nonEmpty) {
        Array(KVBucketPartition(-1, -1, Array.empty, Array.empty,
          layout.logFiles.toArray,
          layout.logFiles.map(layout.lenByPath).toArray))
      } else Array.empty
    buckets.map(KVCdcPartition(_, from, to): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val hc = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()).getOrElse(GraftFs.hadoopConf))
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val cp = p.asInstanceOf[KVCdcPartition]
        new KVCdcPartitionReader(cp.inner, cp.fromTs, cp.toTs, hc)
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class KVCdcPartition(inner: KVBucketPartition, fromTs: Long, toTs: Long)
    extends InputPartition

/** Bucket-local DUAL-cutoff replay: one [[KVResolveKernel]] pass over
  * the bucket's cells (ts ≤ `to` pushed to the parquet layer as a
  * row-group filter) resolves the live state at both cutoffs — a row
  * with ts ≤ `from` feeds both, a row in (from, to] feeds only the `to`
  * state — then emits the net per-cell differences. */
class KVCdcPartitionReader(p: KVBucketPartition, fromTs: Long, toTs: Long,
                           hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val T_INSERT = UTF8String.fromString("insert")
  private val T_UPDATE = UTF8String.fromString("update")
  private val T_DELETE = UTF8String.fromString("delete")

  private val iter: Iterator[InternalRow] = {
    val k = KVResolveKernel.run(p, Array(fromTs, toTs),
      Array(LessThanOrEqual("ts", toTs): Filter), hconf)
    k.cells.flatMap { s =>
      val bLive = k.isLive(s, 0); val aLive = k.isLive(s, 1)
      val bt = k.ts(s, 0); val at = k.ts(s, 1)
      if (!(bLive || aLive) ||
          (bLive && aLive && bt == at && k.value(s, 0) == k.value(s, 1))) None
      else Some(new GenericInternalRow(Array[Any](
        k.key(s), k.family(s), k.qualifier(s),
        if (!bLive) T_INSERT else if (!aLive) T_DELETE else T_UPDATE,
        if (bLive) k.value(s, 0) else null,
        if (aLive) k.value(s, 1) else null,
        if (bLive) java.lang.Long.valueOf(bt) else null,
        if (aLive) java.lang.Long.valueOf(at) else null)): InternalRow)
    }
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { row = iter.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
