package graft.sources.kv

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

/** The one way a compacted generation comes into being — the paper's
  * bulk path: sorted per-region files from one writer, then adopted
  * atomically (`repartitionAndSortWithinPartitions(RegionPartitioner)`
  * then `LoadIncrementalHFiles`, HBaseTable.scala:234-352). Compaction
  * ([[write]]) and the copy-on-write row-level commit ([[KVCowWrite]])
  * both stage one file per bucket through [[KVCowDataWriter]] into a
  * dot-prefixed `compacted/.inflight-<id>` directory, which no reader
  * lists ([[GraftFs.dataFiles]] skips hidden entries), and adopt it
  * through [[commit]]. A generation is a directory behind the pointer,
  * nothing else: there is no catalog entry to create, re-create or
  * drop, and a KV table is addressed by its path alone.
  */
object KVGeneration {
  def inflightDir(path: String, id: String): String =
    s"$path/compacted/.inflight-$id"

  /** Write `cells` (the six cell columns, in `CELL_SCHEMA` order) as
    * the next generation of `path` and publish it, retiring
    * `snapshotLogFiles`. Rows are clustered into `numBuckets`
    * partitions by `repartition(n, key)` — Spark's hash placement
    * `pmod(murmur3(key), n)`, i.e. [[GraftBucket]], so partition id ==
    * bucket id — and sorted by (key, family, qualifier) inside each;
    * the writer verifies every row's bucket. The write runs as one SQL
    * execution, so listeners attribute its jobs to it. */
  def write(cells: DataFrame, path: String, numBuckets: Int,
            snapshotLogFiles: Seq[String]): Unit = {
    val inflight = inflightDir(path, java.util.UUID.randomUUID.toString)
    val qe = cells.repartition(numBuckets, col("key"))
      .sortWithinPartitions("key", "family", "qualifier").queryExecution
    val factory = new KVCowWriterFactory(inflight, numBuckets,
      KVBatchTable.CELL_SCHEMA.size)
    val files = try SQLExecution.withNewExecutionId(qe,
        Some(s"graft-kv generation write `$path`")) {
      qe.toRdd.mapPartitionsWithIndex { (bucket, rows) =>
        val w = factory.createWriter(bucket, TaskContext.get().taskAttemptId())
        try { rows.foreach(w.write); Iterator(w.commit()) }
        catch { case e: Throwable => w.abort(); throw e }
      }.collect()
    } catch { case e: Throwable => GraftFs.delete(inflight, recursive = true); throw e }
    commit(path, numBuckets, inflight, files.toSeq, snapshotLogFiles)(_ => ())
  }

  /** Adopt a staged generation and publish it:
    *
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
    *  4. completeness marker → atomic pointer flip → retirement of the
    *     snapshot's log files → pruning of the drained N-1 generation.
    *
    * A crash at any point leaves a readable table (old pointer, or
    * marker-led recovery). Appends racing the rewrite live as other part
    * files in `log/` and survive: only the SNAPSHOT's files are
    * deleted. */
  def commit(path: String, numBuckets: Int, inflight: String,
             messages: Seq[WriterCommitMessage], snapshotLogFiles: Seq[String])(
             carryForward: String => Unit): Unit = {
    val newGen = KVPointer.read(path).map(_._1 + 1).getOrElse(0)
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
    // delete ONLY the snapshot's files (plus their checksum siblings) —
    // never the directory
    snapshotLogFiles.foreach { f =>
      val slash = f.lastIndexOf('/')
      GraftFs.delete(
        f.substring(0, slash + 1) + "." + f.substring(slash + 1) + ".crc",
        recursive = false)
      GraftFs.delete(f, recursive = false)
    }
    // prune commit markers + the directory itself when no append raced
    // in — but ONLY the markers, never a data file written concurrently
    val logDir = s"$path/log"
    if (GraftFs.exists(logDir) && GraftFs.dataFiles(logDir).isEmpty) {
      GraftFs.list(logDir).filter(e => !e.isDir &&
        (e.name.startsWith("_") || e.name.startsWith(".")))
        .foreach(e => GraftFs.delete(e.path, recursive = false))
      // no-op (returns false) if a racing put re-created content
      GraftFs.delete(logDir, recursive = false)
    }
    // retire generation N-1 (drained: it predates every scan planned
    // since the previous pointer flip)
    if (newGen >= 2)
      GraftFs.delete(s"$path/compacted/gen-${newGen - 2}", recursive = true)
  }
}
