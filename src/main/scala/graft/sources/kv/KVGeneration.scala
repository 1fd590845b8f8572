package graft.sources.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{Filter, LessThanOrEqual}

/** The one way a compacted generation comes into being — the paper's
  * bulk path: sorted per-region files from one writer, then adopted
  * atomically (`repartitionAndSortWithinPartitions(RegionPartitioner)`
  * then `LoadIncrementalHFiles`, HBaseTable.scala:234-352). Every
  * generation file is staged, one file per bucket, through
  * [[KVCowDataWriter]], by one of three writers:
  *  - [[writeResolved]], the steady-state compaction and restore: the
  *    snapshot is already bucketed at the target count, so each task
  *    resolves one bucket through the [[KVResolveKernel]] and rewrites
  *    it — one stage, no shuffle, the paper's region-local compaction
  *    where no data moves between regions;
  *  - [[write]], the shuffle path, for every rewrite that is not that:
  *    re-bucketing, the first compaction of a log-only table, and the
  *    rewrites that keep or drop rows a plain resolve would not (TTL
  *    expiry, a CDC retention horizon);
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

  /** Write `cells` (the six cell columns, in `CELL_SCHEMA` order) as
    * the next generation over `snap` and publish it. Rows are clustered
    * into `numBuckets` partitions by `repartition(n, key)` — Spark's
    * hash placement `pmod(murmur3(key), n)`, i.e. [[GraftBucket]], so
    * partition id == bucket id — and sorted by (key, family, qualifier)
    * inside each; the writer verifies every row's bucket. The write
    * runs as one SQL execution, so listeners attribute its jobs to it. */
  def write(cells: DataFrame, snap: KVLayout, numBuckets: Int): Unit = {
    val inflight = newInflight(snap)
    val files = KVStagedWrite.run(
      cells.repartition(numBuckets, col("key"))
        .sortWithinPartitions("key", "family", "qualifier"),
      new KVCowWriterFactory(inflight, numBuckets, KVBatchTable.CELL_SCHEMA.size),
      inflight, s"graft-kv generation write `${snap.path}`")
    commit(snap, numBuckets, inflight, files)(_ => ())
  }

  /** Write the latest-wins view of bucketed snapshot `snap` at ts
    * cutoff `cutoff` (`Long.MaxValue`: the live state) as its next
    * generation, at the same bucket count, and publish it. One job of
    * one stage: task b takes bucket b's partition of the SAME snapshot
    * (its compacted files plus the bucket-gated log), resolves it
    * through [[KVResolveKernel]] — `ts <= cutoff` pruning row groups,
    * as the resolved scan's pushed filters do — and writes the live
    * cells sorted by (key, family, qualifier) as bucket b's file. Nothing
    * is exchanged: a resolve group lives in one bucket. The job runs on
    * the caller's thread, under its local properties, with a job
    * description naming the table. */
  def writeResolved(snap: KVLayout, cutoff: Long): Unit = {
    require(snap.bucketed, s"${snap.path} has no bucketed generation to rewrite")
    val inflight = newInflight(snap)
    val filters: Array[Filter] =
      if (cutoff == Long.MaxValue) Array.empty else Array(LessThanOrEqual("ts", cutoff))
    val hconf = GraftFs.readerConf()
    // every bucket in order, one per partition: partition id == bucket id
    val parts = snap.bucketPartitions()
    val rows = SparkSession.active.sparkContext
      .parallelize(parts.toSeq, parts.length).flatMap { p =>
        val k = KVResolveKernel.run(p, Array(cutoff), filters, hconf)
        k.liveSorted(0).iterator.map(s => new GenericInternalRow(Array[Any](k.key(s),
          k.family(s), k.qualifier(s), k.value(s, 0),
          java.lang.Long.valueOf(k.ts(s, 0)), null)): InternalRow)
      }
    val files = KVStagedWrite.run(rows,
      new KVCowWriterFactory(inflight, snap.numBuckets, KVBatchTable.CELL_SCHEMA.size),
      inflight, s"graft-kv bucket-local generation write `${snap.path}`")
    commit(snap, snap.numBuckets, inflight, files)(_ => ())
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
