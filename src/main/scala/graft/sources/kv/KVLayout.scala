package graft.sources.kv

import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.LongType

/** On-disk layout of a graft KV table (the engine's HBase-table
  * analogue, see write/KVStore.scala): `<path>/compacted` holds the
  * bucketed, key-sorted resolved state (one-or-more parquet files per
  * bucket, Spark bucket id encoded in the file name) in per-generation
  * directories behind the `_graft_current.txt` pointer; `<path>/log`
  * holds post-compaction appends (the memstore analogue) as plain
  * parquet. This mirrors what the reference derives from HBase region
  * metadata at scan-planning time (HBaseRDD.scala:18-38: one partition
  * per region, region boundaries from the cluster) — here the "regions"
  * are hash buckets and the metadata is the directory itself.
  *
  * Snapshotted driver-side at scan-planning time; the file lists ride
  * into the input partitions, so a compaction racing with a running
  * query cannot change which files a task reads. Listings go through
  * the [[GraftFs]] storage seam — one `listStatus` per directory, so
  * file sizes come with the listing (no per-file stat round-trips on
  * HDFS).
  */
case class KVLayout(path: String) {
  /** (generation, numBuckets) via the shared pointer reader
    * ([[KVPointer]]) — compaction publishes a new `compacted/gen-<N>`
    * directory by atomically flipping the pointer, and the previous
    * generation survives one more compaction interval so in-flight
    * scans (which snapshotted its file list) keep reading valid files
    * through the swap. */
  private val current: Option[(Int, Int)] = KVPointer.read(path)

  /** Generation this snapshot read, or -1 if never compacted. A writer
    * that rewrites the snapshot publishes `generation + 1`, and only
    * while the pointer still names `generation` ([[KVGeneration.commit]]). */
  val generation: Int = current.map(_._1).getOrElse(-1)

  /** Bucket count of the compacted state, or -1 if never compacted. */
  val numBuckets: Int = current.map(_._2).getOrElse(-1)

  private val logEntries: Seq[GraftFs.FileEntry] =
    GraftFs.dataFiles(s"$path/log")

  private val compactedEntries: Seq[GraftFs.FileEntry] = current match {
    case None => Seq.empty
    case Some((g, _)) => GraftFs.dataFiles(s"$path/compacted/gen-$g")
  }

  val logFiles: Seq[String] = logEntries.map(_.path)
  val compactedFiles: Seq[String] = compactedEntries.map(_.path)

  /** Current generation's compacted files keyed by the bucket id in
    * their Spark bucket-file name (`part-...-_00003.c000...`). */
  val compactedByBucket: Map[Int, Seq[String]] = {
    val pat = "_(\\d{5})\\.".r
    compactedEntries
      .flatMap(e => pat.findFirstMatchIn(e.name)
        .map(m => m.group(1).toInt -> e.path))
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
  }

  /** File length by qualified path, straight from the planning-time
    * listing — the lengths ride into the input partitions so executors
    * never stat files (and `java.io.File` cannot stat the qualified
    * `file:/...` URI strings these listings return at all — it reports
    * length 0, which as a parquet split length selects zero row
    * groups). */
  val lenByPath: Map[String, Long] =
    (compactedEntries ++ logEntries).map(e => e.path -> e.len).toMap

  def bucketed: Boolean = numBuckets > 0
  def exists: Boolean = bucketed || logFiles.nonEmpty

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

  def totalBytes: Long = (compactedEntries ++ logEntries).map(_.len).sum
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
