package graft.sources.kv

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{Filter, LessThanOrEqual}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The one way a compacted generation comes into being — the paper's
  * bulk path: sorted per-region files from one writer, then adopted
  * atomically (`repartitionAndSortWithinPartitions(RegionPartitioner)`
  * then `LoadIncrementalHFiles`, HBaseTable.scala:234-352). Every
  * generation file is written, one file per bucket, through
  * [[KVCowDataWriter]], by one of two writers:
  *  - [[writeResolved]], every compaction rewrite (`compact`,
  *    `restoreAsOf`, `compactAt`, `compactRetaining`): each task runs
  *    the [[KVResolveKernel]] over one bucket — bucket-local, one stage
  *    and no shuffle, when the snapshot is already bucketed at the
  *    target count (the paper's region-local compaction, where no data
  *    moves between regions), and behind one shuffle of the raw cells
  *    otherwise;
  *  - the copy-on-write row-level commit ([[KVCowWrite]]).
  * Each writes into its own directory `compacted/<id>` ([[newDir]]),
  * where the files stay, and adopts them through [[commit]]: one
  * checkpoint record ([[KVCommit.rewrite]]). A generation is a
  * checkpoint record, nothing else: there is no catalog entry to
  * create, re-create or drop, and a KV table is addressed by its path
  * alone.
  */
object KVGeneration {
  /** A new rewrite's directory, table-relative. */
  def newDir(): String = s"compacted/${java.util.UUID.randomUUID}"

  /** Write the latest-wins view of snapshot `snap` at ts cutoff
    * `cutoff` (`Long.MaxValue`: the live state) as its next generation
    * at `numBuckets` buckets, and commit it: every compaction rewrite.
    * Each task runs the [[KVResolveKernel]] over one bucket and writes
    * that bucket's file ([[rewriteBucket]]). A snapshot bucketed at
    * `numBuckets` hands task b its bucket b partition (compacted files
    * plus the bucket-gated log): one stage, no shuffle, the paper's
    * region-local compaction. Any other is read as plain parquet and
    * clustered by `repartition(numBuckets, key)` — Spark's
    * `pmod(murmur3(key), n)`, i.e. [[GraftBucket]], which
    * [[KVCowDataWriter]] verifies per row: one shuffle of the raw cells.
    * Only the snapshot's files feed it and only they are dropped, so a
    * put racing the rewrite stays live. Memory: a task holds its
    * bucket's resolve state on the heap without spilling, as every
    * resolved read does, and with `keepAbove` its rows above the cutoff
    * too. */
  def writeResolved(snap: KVLayout, numBuckets: Int, cutoff: Long,
                    keepAbove: Boolean = false,
                    expiry: Map[String, Long] = Map.empty): Unit = {
    val dir = newDir()
    val factory = new KVCowWriterFactory(s"${snap.path}/$dir", numBuckets,
      KVBatchTable.CELL_SCHEMA.size)
    // rows above a cutoff that is neither the live state nor kept are
    // pruned before the resolve
    val prune = !keepAbove && cutoff != Long.MaxValue
    val files =
      if (snap.bucketed && snap.numBuckets == numBuckets) {
        val filters: Array[Filter] =
          if (prune) Array(LessThanOrEqual("ts", cutoff)) else Array.empty
        val hconf = GraftFs.readerConf()
        // every bucket in order, one per partition: partition id == bucket id
        val parts = snap.bucketPartitions()
        KVStagedWrite.run(SparkSession.active.sparkContext
          .parallelize(parts.toSeq, parts.length).flatMap(p => rewriteBucket(
            KVResolveKernel.scan(p, filters, hconf)(_), cutoff, keepAbove, expiry)),
          factory, s"${snap.path}/$dir", s"graft-kv bucket-local generation write `${snap.path}`")
      } else if (snap.compactedFiles.isEmpty && snap.logFiles.isEmpty) Seq.empty
      else {
        val raw = SparkSession.active.read.schema(graft.write.KVTable.CELL_SCHEMA_DDL)
          .parquet(snap.compactedFiles ++ snap.logFiles: _*)
        KVStagedWrite.run((if (prune) raw.filter(col("ts") <= cutoff) else raw)
            .repartition(numBuckets, col("key")),
          factory, s"${snap.path}/$dir", s"graft-kv generation write `${snap.path}`",
          rows => rewriteBucket(batches(rows).foreach(_), cutoff, keepAbove, expiry))
      }
    commit(snap, numBuckets, dir, files, snap.files.map(_.rel))
  }

  /** One rewrite task over the cell batches `feedAll` hands out: the
    * kernel's winners at `cutoff`, less each winner of a family whose
    * `expiry` ts it does not exceed (expiring after the resolve equals
    * expiring before it, `KVTable.resolvedAt`'s argument), plus with
    * `keepAbove` every row above `cutoff` verbatim, tombstones included.
    * Sorted by (key, family, qualifier), NULLs first, strings in UTF-8
    * binary order, as [[KVResolveKernel.liveSorted]] emits them. */
  private def rewriteBucket(feedAll: (ColumnarBatch => Unit) => Unit,
                            cutoff: Long, keepAbove: Boolean,
                            expiry: Map[String, Long]): Iterator[InternalRow] = {
    val k = new KVResolveKernel(Array(cutoff))
    val above = mutable.ArrayBuffer[InternalRow]()
    feedAll { b =>
      k.feed(b)
      val ts = b.column(4)
      if (keepAbove) (0 until b.numRows()).foreach { r =>
        if (!ts.isNullAt(r) && ts.getLong(r) > cutoff) above += b.getRow(r).copy()
      }
    }
    val expired = expiry.map { case (f, ts) => UTF8String.fromString(f) -> ts }
    val winners = k.liveSorted(0).iterator
      .filter(s => expired.get(k.family(s)).forall(k.ts(s, 0) > _))
      .map(s => new GenericInternalRow(Array[Any](k.key(s), k.family(s),
        k.qualifier(s), k.value(s, 0), java.lang.Long.valueOf(k.ts(s, 0)), null)): InternalRow)
    if (above.isEmpty) winners
    else (winners ++ above).toArray.sortBy(r => (
      if (r.isNullAt(0)) None else Some(r.getLong(0)),
      Option(r.getUTF8String(1)), Option(r.getUTF8String(2)))).iterator
  }

  /** Packs rows of the six cell columns into one reused on-heap batch,
    * up to 4096 rows at a time: the input [[KVResolveKernel.feed]] reads. */
  private def batches(rows: Iterator[InternalRow]): Iterator[ColumnarBatch] = {
    val schema = KVBatchTable.CELL_SCHEMA
    val cols = OnHeapColumnVector.allocateColumns(4096, schema)
    val batch = new ColumnarBatch(cols.toArray[ColumnVector])
    Iterator.continually {
      cols.foreach(_.reset())
      var n = 0
      while (n < 4096 && rows.hasNext) {
        val row = rows.next()
        for (i <- cols.indices)
          if (row.isNullAt(i)) cols(i).putNull(n)
          else if (schema(i).dataType == LongType) cols(i).putLong(n, row.getLong(i))
          else cols(i).putByteArray(n, row.getUTF8String(i).getBytes)
        n += 1
      }
      batch.setNumRows(n)
      batch
    }.takeWhile(_.numRows > 0)
  }

  /** Commit the files the tasks of a rewrite of `snap` wrote into
    * `dir`, plus `carried` (files written for this same record), as the
    * checkpoint that drops `remove` at `numBuckets` buckets
    * ([[KVCommit.rewrite]]: a racing append is kept, a racing rewrite of
    * the same input makes this one throw). */
  def commit(snap: KVLayout, numBuckets: Int, dir: String,
             messages: Seq[WriterCommitMessage], remove: Seq[String],
             carried: (Seq[KVFile], Long) = (Nil, Long.MinValue)): Unit = {
    val (files, maxTs) = KVStagedWrite.files(snap.path, dir, messages)
    KVCommit.rewrite(snap, numBuckets, files ++ carried._1, remove,
      math.max(maxTs, carried._2))
  }
}
