package graft.sources.kv

import java.util.ConcurrentModificationException

/** One data file a commit record names: its table-relative path, its
  * exact byte length and its bucket (-1: a log file). */
case class KVFile(rel: String, len: Long, bucket: Int)

/** One immutable commit record, `<table>/_commits/<seq>`: the only
  * state a KV table has. A table is the fold of its records
  * ([[KVLayout]]), in the shape of the Delta Lake log (Armbrust et al.,
  * "Delta Lake", VLDB 2020), and each change — an append, a compaction
  * rewrite, a copy-on-write rewrite, a clone — is exactly one record,
  * so it is visible whole or not at all. This is the paper's staged
  * bulk load adopted in one step (`LoadIncrementalHFiles`,
  * HBaseTable.scala:296-344), on every scheme through one primitive,
  * the put-if-absent [[GraftFs.createExclusive]].
  *
  * An append names the files it adds. A rewrite is a checkpoint: its
  * `add` lines are the table's full live file set after it, and its
  * `remove` lines the files it dropped, so a read folds only the newest
  * checkpoint and the appends after it. `maxTs` is the max cell ts
  * committed up to and including this record, the graft-cdc
  * high-water mark.
  *
  * {{{
  *   graft-kv-commit 1
  *   seq 7
  *   kind rewrite
  *   buckets 8
  *   maxts 12
  *   add 1234 0 compacted/<id>/part-00000-..._00000.c000.snappy.parquet
  *   remove log/<query id>/part-00000-....parquet
  * }}}
  */
case class KVCommit(seq: Long, rewrite: Boolean, numBuckets: Int, maxTs: Long,
                    add: Seq[KVFile], remove: Seq[String]) {
  def render: String =
    (Seq(KVCommit.Header, s"seq $seq", s"kind ${if (rewrite) "rewrite" else "append"}",
      s"buckets $numBuckets", s"maxts $maxTs") ++
      add.map(f => s"add ${f.len} ${f.bucket} ${f.rel}") ++
      remove.map(r => s"remove $r")).mkString("", "\n", "\n")
}

object KVCommit {
  private val Header = "graft-kv-commit 1"
  private val Name = "\\d{20}".r

  def dir(path: String): String = s"$path/_commits"
  def file(path: String, seq: Long): String = f"${dir(path)}/$seq%020d"

  /** The newest record's seq in one listing of `_commits/`, or -1. */
  def head(path: String): Long =
    GraftFs.list(dir(path)).collect { case e if Name.matches(e.name) => e.name.toLong }
      .maxOption.getOrElse(-1L)

  /** Record `seq` of the table at `path`. A record that is missing or
    * does not parse throws, naming the file: skipping it would drop a
    * commit from the fold. */
  def read(path: String, seq: Long): KVCommit = {
    val f = file(path, seq)
    val text = GraftFs.readString(f).getOrElse(
      throw new IllegalStateException(s"KV commit record $f is missing"))
    try {
      val lines = text.split("\n").toSeq
      require(lines.head == Header, s"header '${lines.head}'")
      def field(k: String): String = lines.find(_.startsWith(s"$k "))
        .getOrElse(throw new IllegalArgumentException(s"no $k")).stripPrefix(s"$k ")
      val c = KVCommit(field("seq").toLong, field("kind") == "rewrite",
        field("buckets").toInt, field("maxts").toLong,
        lines.filter(_.startsWith("add ")).map { l =>
          val Array(_, len, bucket, rel) = l.split(" ", 4)
          KVFile(rel, len.toLong, bucket.toInt)
        },
        lines.filter(_.startsWith("remove ")).map(_.stripPrefix("remove ")))
      require(c.seq == seq, s"seq ${c.seq} in the record of seq $seq")
      require(Set("append", "rewrite")(field("kind")), s"kind ${field("kind")}")
      c
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"unparseable KV commit record $f: ${e.getMessage}; '${text.take(64)}'", e)
    }
  }

  /** Commit appended files on top of `snap`: record `snap.generation + 1`.
    * Appends are order-independent (latest-wins resolves on `ts`), so an
    * append that loses the seq to another writer folds the log again and
    * retries at the next seq. No files, no record. */
  def append(snap: KVLayout, add: Seq[KVFile], maxTs: Long): Unit =
    if (add.nonEmpty) commit(snap) { base =>
      KVCommit(base.generation + 1, rewrite = false, base.numBuckets,
        math.max(base.maxTs, maxTs), add, Nil)
    }

  /** Commit a rewrite of `snap` that drops `remove` (the files it read)
    * and adds `add` at `numBuckets` buckets, as a checkpoint record. A
    * rewrite that loses the seq rebases: if every file it read is still
    * live at the new head, the commits that raced it only appended, and
    * it retries at the next seq with their files kept live; otherwise a
    * racing rewrite consumed its input, its own files are deleted and it
    * throws `ConcurrentModificationException`. Once the record lands,
    * the files the checkpoint it replaced had removed are deleted: a scan
    * planned before that checkpoint keeps its files for one rewrite
    * interval, and this rewrite's own removals wait for the next one. */
  def rewrite(snap: KVLayout, numBuckets: Int, add: Seq[KVFile],
              remove: Seq[String], maxTs: Long): Unit = {
    val dropped = remove.toSet
    val landed = try commit(snap) { base =>
      if (!remove.forall(base.isLive)) throw new ConcurrentModificationException(
        s"${snap.path}: a rewrite of seq ${snap.generation} lost to a rewrite " +
          s"committed since; seq ${base.generation} no longer holds its input")
      KVCommit(base.generation + 1, rewrite = true, numBuckets,
        math.max(base.maxTs, maxTs),
        base.files.filterNot(f => dropped(f.rel)) ++ add, remove)
    } catch {
      case e: ConcurrentModificationException =>
        GraftFs.deleteFiles(snap.path, add.map(_.rel)); throw e
    }
    GraftFs.deleteFiles(snap.path, landed.retired)
  }

  /** Create the record `next(base)` names, starting from `base = snap`
    * and re-folding the log after every lost seq. Returns the layout the
    * record landed on. */
  @annotation.tailrec
  private def commit(base: KVLayout)(next: KVLayout => KVCommit): KVLayout = {
    val c = next(base)
    if (GraftFs.createExclusive(file(base.path, c.seq), c.render)) base
    else commit(KVLayout(base.path))(next)
  }
}
