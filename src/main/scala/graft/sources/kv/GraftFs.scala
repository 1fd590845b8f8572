package graft.sources.kv

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}

/** The KV layer's single seam onto storage. Every byte the KV table
  * reads or writes outside a Spark job — the generation pointer, the
  * completeness markers, log-file listings, family descriptors,
  * compaction's snapshot deletes — goes through the Hadoop
  * `FileSystem` API here, so the same layout works on the local disk
  * the sandbox tests on and on the HDFS a 100 TB deployment lives on
  * (the reference's bulk path writes through the same abstraction:
  * HBaseTable.scala:296-312, temp HDFS dir + LoadIncrementalHFiles).
  *
  * Scheme notes:
  *  - `file:` resolves to the RAW local filesystem (no client-side
  *    checksum siblings — parquet files already carry their own
  *    integrity metadata, and the KV control files are tiny
  *    and atomically swapped);
  *  - `hdfs:` gets real semantics for free: `rename` is atomic in the
  *    namenode, so [[atomicReplace]] maps onto
  *    `FileContext.rename(OVERWRITE)` — same crash guarantee as the
  *    local NIO `ATOMIC_MOVE`;
  *  - `s3a:` has NO atomic rename — a rename is copy+delete. The
  *    pointer protocol survives because it never requires readers to
  *    see a half-rename (the tmp file is dot-prefixed and ignored, the
  *    destination is either the old pointer bytes or the new), but two
  *    RACING publishers could interleave copy+delete. The production
  *    design for S3 is a conditional put (`If-Match` on the pointer
  *    object's ETag, or S3 object versioning with
  *    read-newest-complete), which slots in behind [[atomicReplace]]
  *    without touching any caller — that is the point of this seam.
  *    Compaction already tolerates a lost-race publisher: generations
  *    are self-describing (`_graft_meta.txt`) and recovery reads the
  *    newest complete one.
  *
  * Configuration comes from the active Spark session's Hadoop conf
  * when one exists (driver side), else from the classpath defaults
  * (`core-site.xml` — the standard executor-side story).
  */
object GraftFs {
  /** One listed entry: qualified path string, bare name, length. */
  case class FileEntry(path: String, name: String, len: Long, isDir: Boolean)

  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  type ReaderConf = org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.SerializableConfiguration]

  /** The active session's Hadoop conf snapshotted for executor-side
    * parquet opens: the driver's filesystem settings (HDFS auth, buffer
    * sizes, S3 credential providers) ride into every read task, where a
    * bare `new Configuration(false)` would strip them. Broadcast, the
    * way Spark's own file scans ship it: an executor deserializes the
    * whole conf once, not once per task. Called while planning a scan,
    * so a session is active. */
  def readerConf(): ReaderConf = {
    val s = org.apache.spark.sql.SparkSession.active
    s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(s.sessionState.newHadoopConf()))
  }

  private[kv] def fsFor(p: Path): FileSystem = p.getFileSystem(hadoopConf) match {
    // raw local: java.io semantics, no .crc sibling pollution in the
    // table directories (the staged writers' checksum siblings stay in
    // their inflight dirs, which every commit deletes)
    case l: LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  def exists(path: String): Boolean = {
    val p = new Path(path); fsFor(p).exists(p)
  }

  /** All direct children of `dir` (empty if the directory is absent). */
  def list(dir: String): Seq[FileEntry] = {
    val p = new Path(dir); val fs = fsFor(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(st => FileEntry(st.getPath.toString,
      st.getPath.getName, st.getLen, st.isDirectory)).toSeq
  }

  /** Data files of `dir`: non-hidden plain files, path-sorted — the
    * listing every scan snapshot and compaction snapshot is built
    * from. `_`-prefixed names are skipped too: logs written before the
    * staged log writer still hold Spark's `_SUCCESS` markers. */
  def dataFiles(dir: String): Seq[FileEntry] =
    list(dir).filter(e => !e.isDir &&
      !e.name.startsWith(".") && !e.name.startsWith("_")).sortBy(_.path)

  /** Small-file read (pointer, markers, descriptors): full content as
    * UTF-8, or None when the file does not exist. Absence is the ONLY
    * condition mapped to None — a transient read error (flaky HDFS
    * datanode, S3 throttle) propagates instead of masquerading as
    * "pointer absent", which would send pointer readers into the
    * recovery/republish path for no reason. */
  def readString(path: String): Option[String] = {
    val p = new Path(path); val fs = fsFor(p)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          Some(new String(out.toByteArray, StandardCharsets.UTF_8))
        } finally in.close()
      }
    } catch {
      // exists→open race (e.g. a concurrent legacy-pointer cleanup)
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Small-file write (overwrite; parents created). NOT atomic — use
    * [[atomicReplace]] for anything a reader races. */
  def writeString(path: String, content: String): Unit = {
    val p = new Path(path); val fs = fsFor(p)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomically replace `path`'s content: write a dot-prefixed tmp
    * sibling, then swap it in with the strongest rename the scheme
    * offers. A reader racing the swap sees the old bytes or the new,
    * never a truncated file.
    *
    *  - local: NIO `ATOMIC_MOVE` (rename(2)) — Hadoop's local
    *    `AbstractFileSystem` implements overwrite-rename as
    *    delete-then-rename, which has a visible gap, so the local leg
    *    keeps the kernel-atomic move;
    *  - everything else: `FileContext.rename(OVERWRITE)` — atomic on
    *    HDFS; see the class doc for the S3 conditional-put design. */
  def atomicReplace(path: String, content: String): Unit = {
    val dst = new Path(path); val fs = fsFor(dst)
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      val dstNio = java.nio.file.Paths.get(
        fs.makeQualified(dst).toUri.getPath)
      val tmpNio = java.nio.file.Paths.get(
        fs.makeQualified(tmp).toUri.getPath)
      java.nio.file.Files.write(tmpNio,
        content.getBytes(StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmpNio, dstNio,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      FileContext.getFileContext(fs.getUri, hadoopConf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  /** Put-if-absent: create `path` with `content` ONLY if it does not
    * exist. Returns false (and writes nothing) if another writer got
    * there first. This is the local/HDFS emulation of S3's conditional
    * PUT (`If-None-Match: *`) — the primitive [[CasPointerStore]]
    * builds its no-rename pointer protocol on.
    *
    *  - local: NIO `CREATE_NEW` — a kernel-atomic exclusive create
    *    (O_CREAT|O_EXCL), no tmp file, no window;
    *  - HDFS: `create(overwrite = false)` is namenode-atomic;
    *  - S3A (Hadoop 3.4.1+): `fs.s3a.create.conditional.enabled` maps
    *    the same call onto the real conditional PUT. */
  def createExclusive(path: String, content: String): Boolean = {
    val p = new Path(path); val fs = fsFor(p)
    fs.mkdirs(p.getParent)
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      // S3's conditional PUT is atomic WITH its content — emulate that
      // exactly: stage the bytes in a private tmp file, then hard-LINK
      // it into place (link(2) is atomic and fails if the name exists),
      // so a racing reader sees the full object or nothing, never a
      // created-but-unwritten file
      val nio = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      val tmp = nio.resolveSibling(
        s".${nio.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        java.nio.file.Files.write(tmp,
          content.getBytes(StandardCharsets.UTF_8))
        java.nio.file.Files.createLink(nio, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Exception => () }
      }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Move `src` over `dst` (overwrite): the staged commits' renames
    * out of their inflight dirs, whose file names are unique per write,
    * and the legacy migration, which runs under the pointer lock. */
  def move(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst); val fs = fsFor(s)
    if (fs.exists(d)) fs.delete(d, false)
    // FileSystem.rename reports failure as `false`, not an exception —
    // a silent false here would let migrateLegacy publish a pointer
    // over an incomplete generation directory
    if (!fs.rename(s, d))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  def mkdirs(path: String): Unit = { val p = new Path(path); fsFor(p).mkdirs(p) }

  def delete(path: String, recursive: Boolean): Boolean = {
    val p = new Path(path); val fs = fsFor(p)
    try fs.exists(p) && fs.delete(p, recursive)
    catch { case _: java.io.IOException => false } // non-empty dir, races
  }

  def len(path: String): Long = {
    val p = new Path(path); fsFor(p).getFileStatus(p).getLen
  }

  /** Set a file's modification time (access time untouched). Stream
    * staging uses this to make file-source pickup order explicit —
    * see [[graft.streaming.Staging.ordered]]. */
  def setModifiedTime(path: String, mtimeMs: Long): Unit = {
    val p = new Path(path); fsFor(p).setTimes(p, mtimeMs, -1)
  }

  /** Carry a data file forward BY REFERENCE where the store allows it:
    * a hard link on local/POSIX filesystems (O(1), and the bytes stay
    * alive until BOTH directory entries are gone — so retiring the
    * source generation later never invalidates the link), a plain copy
    * elsewhere. This is the group-filtered CoW commit's carry-forward
    * primitive (KVCow.scala): untouched buckets' files move into the
    * new generation without rewriting their bytes — HBase's reference-
    * file trick; an object-store deployment would use a manifest layer
    * instead, which slots in behind this same seam. */
  def linkOrCopy(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst); val fs = fsFor(s)
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      val sp = java.nio.file.Paths.get(fs.makeQualified(s).toUri.getPath)
      val dp = java.nio.file.Paths.get(fs.makeQualified(d).toUri.getPath)
      java.nio.file.Files.createDirectories(dp.getParent)
      try java.nio.file.Files.createLink(dp, sp)
      catch {
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(sp, dp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    } else {
      org.apache.hadoop.fs.FileUtil.copy(fs, s, fsFor(d), d, false,
        hadoopConf); ()
    }
  }
}
