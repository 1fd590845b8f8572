package graft.sources.kv

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level operations on a graft KV
  * table — the second canonical strategy next to the delta/merge-on-read
  * default ([[KVRowLevelOperation]]), selected per session with
  * `SET spark.graft.kv.rowlevel=cow`.
  *
  * Semantics: the operation's scan is the RESOLVED live state (same
  * [[KVResolvedScan]] as the delta path), Spark's ReplaceData plan
  * computes the complete post-operation contents (carried-over rows +
  * merge outputs, minus deletes), and the write lands it as a FRESH
  * GENERATION in one checkpoint record — exactly a compaction whose
  * input had the mutation applied. Where the delta path appends
  * versions and tombstones (write-optimized: O(changed rows) written,
  * history retained, resolve cost on read), CoW pays the full rewrite
  * once and reads are then tombstone-free and maximally compact
  * (read-optimized) — the Iceberg/Delta MoR-vs-CoW tradeoff, both
  * sides of which this source now implements.
  *
  * Scale/correctness contract:
  *  - The CoW scan accepts NO predicate pushdown: its output is the
  *    replacement content of every group it reads, so scan-level
  *    dropping of ROWS would silently delete them. What it DOES accept
  *    is Spark's runtime GROUP filter (`RowLevelOperationRuntime-
  *    GroupFiltering`): the operation declares the `_bucket` metadata
  *    attribute, the optimizer runs the command's matching condition
  *    as a subquery projecting DISTINCT touched buckets, and
  *    [[KVCowScan.filter]] prunes the scan — and hence the rewrite —
  *    to exactly those buckets. Dropping a WHOLE group is sound
  *    because the commit record keeps every unread bucket's files live
  *    (it simply does not remove them) and re-appends the scan
  *    snapshot's log rows of unread buckets into the same record
  *    (their pending state must survive the log files' removal; touched
  *    buckets' log rows are already folded into the rewritten files —
  *    and must NOT survive, or a row the command deleted would
  *    resurrect). A MERGE touching k of n buckets therefore rewrites k
  *    files, not the table.
  *  - The write requires a distribution CLUSTERED BY `key` into
  *    exactly `numBuckets` partitions and (key, family, qualifier)
  *    ordering — Spark's hash-clustering into N partitions places a
  *    row in partition `pmod(murmur3(key), N)`, which is bit-for-bit
  *    Spark's own `bucketBy` placement ([[GraftBucket]],
  *    BucketingSpec), so partition id == bucket id and each task
  *    writes its bucket's sorted file directly. Every row is verified
  *    against [[GraftBucket.of]] at write time — a placement drift
  *    fails the job loudly instead of corrupting the layout.
  *  - Commit: tasks write into the rewrite's own directory, which no
  *    reader lists; job commit is the generation commit compaction uses
  *    too ([[KVGeneration.commit]]), one checkpoint record that drops
  *    the touched buckets' files and the scan snapshot's log files.
  *    Appends racing the rewrite survive exactly as they do under
  *    compaction; a rewrite racing it on the same files makes it
  *    throw.
  */
class KVCowBuilder(path: String, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new KVCowOperation(path, info.command)
}

class KVCowOperation(path: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // ONE layout snapshot shared by scan and write: the write drops
  // exactly the log files the scan consumed, never a racing append's
  private[kv] lazy val layout: KVLayout = KVLayout(path)

  /** Buckets the runtime group filter restricted the scan to; None =
    * the filter never fired (full rewrite, the safe default). Written
    * driver-side by [[KVCowScan.filter]] before partition planning,
    * read driver-side by [[KVCowWrite.commit]] — same query, ordered
    * by execution. */
  @volatile private[kv] var groupBuckets: Option[Set[Int]] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-kv-cow $cmd `$path`"

  /** The group identity: Spark resolves `_bucket` on the scan relation
    * and its runtime group-filter rule aggregates the DISTINCT touched
    * values — small by construction (≤ numBuckets), unlike filtering
    * on raw keys, whose matched set is unbounded at 100 TB. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (layout.bucketed) Array(Expressions.column(KVBucketColumn.NAME))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVCowScanBuilder(path, layout, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new KVCowWrite(path, layout, info, KVCowOperation.this)
    }
}

/** Resolved scan with NO predicate pushdown (the scan output is the
  * replacement content of each group it reads) but WITH column pruning
  * (Spark must be able to project the `_bucket` metadata attribute). */
class KVCowScanBuilder(path: String, layout: KVLayout, op: KVCowOperation)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = KVBatchTable.CELL_SCHEMA

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new KVCowScan(path, layout, required, op)
}

/** The CoW operation's read side: the resolved scan, accepting the
  * runtime GROUP filter on `_bucket` in place of the resolved scan's
  * key filter (whole-bucket pruning only — row predicates are never
  * pushed below a replacement scan). */
class KVCowScan(path: String, snapshot: KVLayout, required: StructType,
                op: KVCowOperation)
    extends KVResolvedScan(path, snapshot, required, Array.empty[Filter]) {
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  override def filterAttributes(): Array[NamedReference] =
    if (layout.bucketed) Array(Expressions.column(KVBucketColumn.NAME))
    else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(KVCowScan.bucketsOf)
    if (sets.nonEmpty) {
      val buckets = sets.reduce(_ intersect _)
      op.groupBuckets = Some(buckets)
      runtimeBuckets = Some(buckets)
    } // unparseable predicate shapes: keep the full-rewrite default
  }
}

object KVCowScan {
  import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def intOf(v: Any): Option[Int] = v match {
    case n: java.lang.Number => Some(n.intValue())
    case _ => None
  }

  private def isBucketRef(e: Any): Boolean = e match {
    case r: NamedReference =>
      r.fieldNames.length == 1 && r.fieldNames()(0) == KVBucketColumn.NAME
    case _ => false
  }

  /** `_bucket IN (…)` / `_bucket = v` → the bucket set; anything else
    * → None (the caller then keeps the unfiltered default). */
  private[kv] def bucketsOf(p: Predicate): Option[Set[Int]] = {
    val ch = p.children()
    p.name() match {
      case "IN" if ch.nonEmpty && isBucketRef(ch(0)) =>
        val vals = ch.drop(1).flatMap {
          case l: Literal[_] => intOf(l.value)
          case _ => None
        }
        if (vals.length == ch.length - 1) Some(vals.toSet) else None
      case "=" if ch.length == 2 && isBucketRef(ch(0)) =>
        ch(1) match {
          case l: Literal[_] => intOf(l.value).map(Set(_))
          case _ => None
        }
      case _ => None
    }
  }
}

class KVCowWrite(path: String, layout: KVLayout, info: LogicalWriteInfo,
                 op: KVCowOperation)
    extends Write with BatchWrite with RequiresDistributionAndOrdering {
  // declared schema = the cell columns, optionally followed by the
  // `_bucket` metadata attribute the group-filtered plan carries
  private val declared = info.schema().fieldNames
  require(declared.take(KVBatchTable.CELL_SCHEMA.size).sameElements(
    KVBatchTable.CELL_SCHEMA.fieldNames) &&
    declared.drop(KVBatchTable.CELL_SCHEMA.size).forall(_ == KVBucketColumn.NAME),
    s"CoW replace schema ${declared.mkString(",")} does not match the " +
      "cell schema (+ optional _bucket)")
  private val declaredWidth = declared.length

  private val numBuckets = if (layout.bucketed) layout.numBuckets else 8
  private val dir = KVGeneration.newDir()

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-kv-cow-write `$path`"

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("key")))
  override def requiredNumPartitions(): Int = numBuckets
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("family"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("qualifier"), SortDirection.ASCENDING))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVCowWriterFactory(s"$path/$dir", numBuckets, declaredWidth)

  /** The shared generation commit ([[KVGeneration.commit]]). With the
    * runtime group filter the scan — and so the replacement — was pruned
    * to the touched buckets: the record drops only their files and the
    * snapshot's log files, keeps every other bucket's files, and carries
    * the untouched buckets' PENDING log rows, re-appended, so dropping
    * the log files cannot lose them. (Touched buckets' log rows are
    * folded into the rewritten files and must NOT be re-appended — a
    * deleted row would resurrect.) Without it the record drops every
    * file of the snapshot. */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    op.groupBuckets match {
      case Some(touched) if layout.bucketed =>
        val carried =
          if (layout.logFiles.isEmpty || touched.size == numBuckets) (Nil, Long.MinValue)
          else {
            import org.apache.spark.sql.functions.{col, hash, lit, pmod}
            KVLogWrite.stage(path,
              SparkSession.active.read.schema(graft.write.KVTable.CELL_SCHEMA_DDL)
                .parquet(layout.logFiles: _*)
                .filter(!pmod(hash(col("key")), lit(numBuckets))
                  .isin(touched.toSeq.map(Integer.valueOf): _*))
                .coalesce(1))
          }
        KVGeneration.commit(layout, numBuckets, dir, messages.toSeq,
          layout.files.filter(f => f.bucket < 0 || touched(f.bucket)).map(_.rel), carried)
      case _ =>
        KVGeneration.commit(layout, numBuckets, dir, messages.toSeq, layout.files.map(_.rel))
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    GraftFs.delete(s"$path/$dir", recursive = true): Unit
  }
}

class KVCowWriterFactory(dir: String, numBuckets: Int,
                         declaredWidth: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVCowDataWriter(dir, numBuckets, partitionId, taskId,
      declaredWidth)
}

/** One task = one bucket = one sorted parquet file, named with the
  * Spark bucket-file suffix (`..._00003.c000...`) and committed with its
  * bucket id. The only writer of compacted files: compaction and the
  * CoW rewrite both write through it ([[KVGeneration]]).
  * Rows stream through parquet-mr in arrival (= required sort) order;
  * the file is opened lazily so empty buckets produce no file. */
class KVCowDataWriter(dir: String, numBuckets: Int,
                      partitionId: Int, taskId: Long, declaredWidth: Int)
    extends DataWriter[InternalRow] {
  private val out = new KVCellFileWriter(dir,
    f"part-$partitionId%05d-$taskId" + f"_$partitionId%05d.c000.snappy.parquet",
    partitionId)

  override def write(row: InternalRow): Unit = {
    // ReplaceData's physical rows may carry the planner's OPERATION
    // column (RowDeltaUtils: 5=WRITE, 6=WRITE_WITH_METADATA) ahead of
    // the DECLARED columns (cells, plus `_bucket` when the group-
    // filtered plan carries it — trailing, ignored here) — Spark's
    // plain writing task hands the row through un-projected. The
    // declared width disambiguates; refuse anything else.
    val off = row.numFields match {
      case w if w == declaredWidth => 0
      case w if w == declaredWidth + 1 && !row.isNullAt(0) &&
          (row.getInt(0) == 5 || row.getInt(0) == 6) => 1
      case n => throw new IllegalStateException(
        s"unexpected CoW replace-row layout: $n fields vs declared " +
          s"$declaredWidth")
    }
    // loud failure beats silent layout corruption: the clustering
    // contract (partition id == bucket id) is verified per row
    if (!row.isNullAt(off)) {
      val b = GraftBucket.of(row.getLong(off), numBuckets)
      if (b != partitionId) throw new IllegalStateException(
        s"CoW clustering drift: key ${row.getLong(off)} belongs to bucket " +
          s"$b but arrived in write partition $partitionId")
    }
    out.write(row, off)
  }

  override def commit(): WriterCommitMessage = out.commit()
  override def abort(): Unit = out.abort()
  override def close(): Unit = ()
}
