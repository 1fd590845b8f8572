package graft.sources.kv

import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.LongType

/** A graft KV table (the engine's HBase-table analogue, see
  * write/KVStore.scala) as of one commit: the fold of its
  * `<path>/_commits/` records ([[KVCommit]]) up to the newest seq one
  * listing of that directory shows. The fold reads that head record and
  * the ones below it, down to the newest checkpoint (a rewrite record,
  * which lists the full live file set): the compacted files, bucketed
  * and key-sorted, one or more per bucket, and the log files appended
  * since (the memstore analogue). It lists no data directory, so a
  * commit is in the snapshot whole or not at all. This mirrors what the
  * reference derives from HBase region metadata at scan-planning time
  * (HBaseRDD.scala:18-38: one partition per region, region boundaries
  * from the cluster) — here the "regions" are hash buckets and the
  * metadata is the commit log.
  *
  * Snapshotted driver-side at scan-planning time; the file lists ride
  * into the input partitions, so a commit racing a running query cannot
  * change which files a task reads, and the files a rewrite drops are
  * deleted only by the rewrite after it ([[KVCommit.rewrite]]). File
  * lengths are the exact ones the writer tasks reported. Records are
  * read by seq, never by listing entry, so a listing that shows a new
  * record but misses an older one cannot leave a gap in the fold.
  */
case class KVLayout(path: String) {
  /** The records from the newest checkpoint (or the first record) up to
    * the head, oldest first. */
  private val records: List[KVCommit] = {
    @annotation.tailrec
    def down(seq: Long, acc: List[KVCommit]): List[KVCommit] =
      if (seq < 0) acc
      else {
        val c = KVCommit.read(path, seq)
        if (c.rewrite) c :: acc else down(seq - 1, c :: acc)
      }
    down(KVCommit.head(path), Nil)
  }

  /** Seq of the newest record this snapshot folded, or -1 for a table
    * with no commit. A writer commits on top of it as `generation + 1`. */
  val generation: Long = records.lastOption.fold(-1L)(_.seq)

  private val checkpoint: Option[KVCommit] = records.headOption.filter(_.rewrite)

  /** Bucket count of the compacted state, or -1 if never compacted. */
  val numBuckets: Int = checkpoint.fold(-1)(_.numBuckets)

  /** The max cell ts committed up to this snapshot (Long.MinValue: none). */
  val maxTs: Long = records.lastOption.fold(Long.MinValue)(_.maxTs)

  /** The live data files. */
  private[graft] val files: Seq[KVFile] = records.flatMap(_.add)

  /** Files the checkpoint removed, table-relative: the next rewrite
    * deletes them. */
  private[kv] def retired: Seq[String] = checkpoint.fold(Seq.empty[String])(_.remove)

  private lazy val live: Set[String] = files.map(_.rel).toSet
  private[kv] def isLive(rel: String): Boolean = live(rel)

  private def abs(f: KVFile): String = s"$path/${f.rel}"

  val logFiles: Seq[String] = files.filter(_.bucket < 0).map(abs)
  val compactedFiles: Seq[String] = files.filter(_.bucket >= 0).map(abs)

  /** Compacted files keyed by bucket id. */
  val compactedByBucket: Map[Int, Seq[String]] =
    files.filter(_.bucket >= 0).groupBy(_.bucket).map { case (b, fs) => b -> fs.map(abs) }

  /** File length by path, as the writer tasks reported it — the lengths
    * ride into the input partitions so executors never stat files (a
    * wrong length as a parquet split length selects the wrong row
    * groups, zero selects none). */
  val lenByPath: Map[String, Long] = files.map(f => abs(f) -> f.len).toMap

  def bucketed: Boolean = numBuckets > 0
  /** The resolve-group input partitions of this snapshot: one
    * [[KVBucketPartition]] per `allowed` bucket (its compacted files
    * plus the whole log, bucket-gated by the reader), or — on a
    * log-only layout — ONE partition holding every log file, since a
    * key's versions span files. The resolved scan (every library
    * resolved read), graft-cdc, MERGE and `changeLog` run one kernel
    * task per partition. Safe by the layout contract: an uncompacted
    * table is memstore-sized; compaction is what buys distribution. */
  def bucketPartitions(allowed: Int => Boolean = _ => true): Array[KVBucketPartition] = {
    val logs = logFiles.toArray
    val logLens = logs.map(lenByPath)
    if (bucketed)
      (0 until numBuckets).filter(allowed).map { b =>
        val comp = compactedByBucket.getOrElse(b, Seq.empty).toArray
        KVBucketPartition(b, numBuckets, comp, comp.map(lenByPath), logs, logLens)
      }.toArray
    else if (logs.nonEmpty)
      Array(KVBucketPartition(-1, -1, Array.empty, Array.empty, logs, logLens))
    else Array.empty
  }

  def totalBytes: Long = files.map(_.len).sum
}

object KVLayout {
  /** The one existence rule: the table has a commit record. One
    * listing of `_commits/`, no record read. */
  def exists(path: String): Boolean = KVCommit.head(path) >= 0
}

/** The bucket-assignment function of the compacted layout. MUST agree
  * bit-for-bit with how Spark's `bucketBy` placed the rows — i.e.
  * `pmod(murmur3(key, seed=42), n)` — because the scan merges log rows
  * into the bucket partition that the compacted layout put their key
  * in. Delegates to Spark's own Murmur3 so there is no second
  * implementation to drift. */
object GraftBucket {
  def of(key: Any, numBuckets: Int): Int = {
    val h = if (key == null) 42
      else Murmur3HashFunction.hash(key, LongType, 42L).toInt
    val m = h % numBuckets
    if (m < 0) m + numBuckets else m
  }
}
