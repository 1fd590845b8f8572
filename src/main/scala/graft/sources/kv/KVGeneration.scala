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
  * generation file is staged, one file per bucket, through
  * [[KVCowDataWriter]], by one of two writers:
  *  - [[writeResolved]], every compaction rewrite (`compact`,
  *    `restoreAsOf`, `compactAt`, `compactRetaining`): each task runs
  *    the [[KVResolveKernel]] over one bucket — bucket-local, one stage
  *    and no shuffle, when the snapshot is already bucketed at the
  *    target count (the paper's region-local compaction, where no data
  *    moves between regions), and behind one shuffle of the raw cells
  *    otherwise;
  *  - the copy-on-write row-level commit ([[KVCowWrite]]).
  * Each stages into a dot-prefixed `compacted/.inflight-g<N>-<id>`
  * directory, N being the generation its snapshot read, which no reader
  * lists ([[GraftFs.dataFiles]] skips hidden entries), and adopts it
  * through [[commit]]. A generation is a directory behind the pointer,
  * nothing else: there is no catalog entry to create, re-create or
  * drop, and a KV table is addressed by its path alone.
  */
object KVGeneration {
  /** Staging directory of a writer whose snapshot read generation
    * `baseGen` (-1: never compacted). The tag lets a later commit
    * sweep the staging dirs that can no longer commit. */
  def inflightDir(path: String, baseGen: Int, id: String): String =
    s"$path/compacted/.inflight-g$baseGen-$id"

  private val Staged = """\.inflight-g(-?\d+)-.*""".r
  private val Retired = """\.retired-g(\d+)""".r

  /** Where log file `f`, listed by a scan planned before a commit
    * retired it, is kept until the next commit: a reader that finds `f`
    * gone opens this instead (None once it is deleted too). */
  private[kv] def retiredLogFile(f: String): Option[String] = {
    val slash = f.lastIndexOf('/')
    GraftFs.list(f.substring(0, slash))
      .collect { case e if e.isDir && Retired.matches(e.name) =>
        s"${e.path}/${f.substring(slash + 1)}" }
      .find(GraftFs.exists)
  }

  private def newInflight(snap: KVLayout): String =
    inflightDir(snap.path, snap.generation, java.util.UUID.randomUUID.toString)

  /** Write the latest-wins view of snapshot `snap` at ts cutoff
    * `cutoff` (`Long.MaxValue`: the live state) as its next generation
    * at `numBuckets` buckets, and publish it: every compaction rewrite.
    * Each task runs the [[KVResolveKernel]] over one bucket and writes
    * that bucket's file ([[rewriteBucket]]). A snapshot bucketed at
    * `numBuckets` hands task b its bucket b partition (compacted files
    * plus the bucket-gated log): one stage, no shuffle, the paper's
    * region-local compaction. Any other is read as plain parquet and
    * clustered by `repartition(numBuckets, key)` — Spark's
    * `pmod(murmur3(key), n)`, i.e. [[GraftBucket]], which
    * [[KVCowDataWriter]] verifies per row: one shuffle of the raw cells.
    * Only the snapshot's files feed it and only its log files retire, so
    * a put racing the rewrite survives into the next log. Memory: a task
    * holds its bucket's resolve state on the heap without spilling, as
    * every resolved read does, and with `keepAbove` its rows above the
    * cutoff too. */
  def writeResolved(snap: KVLayout, numBuckets: Int, cutoff: Long,
                    keepAbove: Boolean = false,
                    expiry: Map[String, Long] = Map.empty): Unit = {
    val inflight = newInflight(snap)
    val factory =
      new KVCowWriterFactory(inflight, numBuckets, KVBatchTable.CELL_SCHEMA.size)
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
          factory, inflight, s"graft-kv bucket-local generation write `${snap.path}`")
      } else if (snap.compactedFiles.isEmpty && snap.logFiles.isEmpty) Seq.empty
      else {
        val raw = SparkSession.active.read.schema(graft.write.KVTable.CELL_SCHEMA_DDL)
          .parquet(snap.compactedFiles ++ snap.logFiles: _*)
        KVStagedWrite.run((if (prune) raw.filter(col("ts") <= cutoff) else raw)
            .repartition(numBuckets, col("key")),
          factory, inflight, s"graft-kv generation write `${snap.path}`",
          rows => rewriteBucket(batches(rows).foreach(_), cutoff, keepAbove, expiry))
      }
    commit(snap, numBuckets, inflight, files)(_ => ())
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

  /** Adopt a staged generation as the successor of the generation
    * `snap` read, and publish it:
    *
    *  0. refuse unless the pointer still names `snap.generation`: a
    *     writer that read gen-N and publishes N+1 after another commit
    *     already published N+1 (a CoW MERGE, say) would publish its
    *     stale contents over that commit and lose it. The staging dir
    *     is deleted and a `ConcurrentModificationException` thrown;
    *  1. wipe a stale unpublished `gen-<N+1>` — a crashed earlier
    *     attempt that moved some files and died before the pointer
    *     flip; a retry computes the same N+1, and moving fresh files
    *     NEXT TO the stale ones would publish duplicated rows. It is
    *     unpublished by construction (the pointer still names gen-N),
    *     and a CONCURRENT writer racing to the same generation loses at
    *     the pointer CAS, not here;
    *  2. move the committed tasks' files out of `inflight` (failed or
    *     speculative attempts' files stay behind and are deleted with
    *     it);
    *  3. `carryForward(genDir)` — the CoW group-filtered rewrite links
    *     its untouched buckets in here;
    *  4. completeness marker → atomic pointer flip → sweep of every
    *     staging dir tagged with a generation at or below N (by step 0
    *     none of them can ever commit: crashed or doomed writers) →
    *     retirement of the snapshot's log files into
    *     `log/.retired-g<N+1>` (readable by the scans planned before
    *     the flip, deleted at the next commit) → pruning of the drained
    *     N-1 generation.
    *
    * A crash at any point leaves a readable table (old pointer, or
    * marker-led recovery). Appends racing the rewrite live as other part
    * files in `log/` and survive: only the SNAPSHOT's files are
    * deleted. */
  def commit(snap: KVLayout, numBuckets: Int, inflight: String,
             messages: Seq[WriterCommitMessage])(
             carryForward: String => Unit): Unit = {
    val path = snap.path
    val live = KVPointer.read(path).fold(-1)(_._1)
    if (live != snap.generation) {
      GraftFs.delete(inflight, recursive = true)
      throw new java.util.ConcurrentModificationException(
        s"$path: a rewrite of generation ${snap.generation} cannot commit, " +
          s"the pointer already names generation $live")
    }
    val newGen = snap.generation + 1
    val genDir = s"$path/compacted/gen-$newGen"
    if (GraftFs.list(genDir).nonEmpty) GraftFs.delete(genDir, recursive = true)
    GraftFs.mkdirs(genDir)
    messages.foreach {
      case KVCowFile(name) if name.nonEmpty =>
        GraftFs.move(s"$inflight/$name", s"$genDir/$name")
      case _ => ()
    }
    GraftFs.delete(inflight, recursive = true)
    carryForward(genDir)
    KVPointer.writeGenMeta(path, newGen, numBuckets)
    KVPointer.publish(path, newGen, numBuckets)
    GraftFs.list(s"$path/compacted").foreach { e =>
      e.name match {
        case Staged(g) if e.isDir && g.toInt < newGen =>
          GraftFs.delete(e.path, recursive = true)
        case _ => ()
      }
    }
    // retire ONLY the snapshot's log files, never a racing append's:
    // each moves (one rename) into the hidden `log/.retired-g<N+1>`,
    // out of every listing taken from now on, while a scan planned
    // before the flip still finds it there ([[retiredLogFile]]). The
    // files retired by earlier flips have drained, as gen N-1 has.
    val logDir = s"$path/log"
    GraftFs.list(logDir).foreach { e =>
      e.name match {
        case Retired(g) if e.isDir && g.toInt < newGen =>
          GraftFs.delete(e.path, recursive = true)
        case _ => ()
      }
    }
    if (snap.logFiles.nonEmpty) {
      val retired = s"$logDir/.retired-g$newGen"
      GraftFs.mkdirs(retired)
      snap.logFiles.foreach { f =>
        if (GraftFs.exists(f))
          GraftFs.move(f, s"$retired/${f.substring(f.lastIndexOf('/') + 1)}")
      }
    }
    // retire generation N-1 (drained: it predates every scan planned
    // since the previous pointer flip)
    if (newGen >= 2)
      GraftFs.delete(s"$path/compacted/gen-${newGen - 2}", recursive = true)
  }
}
