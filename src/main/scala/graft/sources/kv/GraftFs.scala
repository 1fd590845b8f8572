package graft.sources.kv

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}

/** The KV layer's single seam onto storage. Every byte the KV table
  * reads or writes outside a Spark job — commit records, family
  * descriptors, CDC consumer cutoffs, a rewrite's deletes — goes
  * through the Hadoop `FileSystem` API here, so the same layout works
  * on the local disk the sandbox tests on and on the HDFS a 100 TB
  * deployment lives on (the reference's bulk path writes through the
  * same abstraction: HBaseTable.scala:296-312, temp HDFS dir +
  * LoadIncrementalHFiles).
  *
  * Scheme notes:
  *  - `file:` resolves to the RAW local filesystem (no client-side
  *    checksum siblings — parquet files already carry their own
  *    integrity metadata, and the KV control files are tiny);
  *  - a table commits through one primitive, [[createExclusive]]
  *    (put-if-absent of a complete file), which every scheme provides
  *    its own way: a hard link locally, a no-overwrite rename on
  *    HDFS-like stores, a conditional PUT on S3-class stores, which have
  *    no atomic rename.
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
    // table directories
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

  /** Data files of `dir`: non-hidden plain files, path-sorted.
    * `_`-prefixed names (Spark's `_SUCCESS` markers) are skipped too. */
  def dataFiles(dir: String): Seq[FileEntry] =
    list(dir).filter(e => !e.isDir &&
      !e.name.startsWith(".") && !e.name.startsWith("_")).sortBy(_.path)

  /** Small-file read (commit records, markers, descriptors): full
    * content as UTF-8, or None when the file does not exist. Absence is
    * the ONLY condition mapped to None — a transient read error (flaky
    * HDFS datanode, S3 throttle) propagates instead of masquerading as
    * an absent file. */
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
      // exists→open race (a concurrent delete)
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
    *    HDFS, a copy + delete on S3-class stores (a small mutable file
    *    there: family descriptors, CDC consumer cutoffs). */
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

  /** Schemes with no atomic rename: put-if-absent is a conditional PUT. */
  private val NoRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "abfs")

  /** Put-if-absent: create `path` with `content` ONLY if it does not
    * exist, atomically WITH its content — a reader sees the complete
    * file or no file, never a created-but-unwritten one. Returns false
    * (and leaves nothing) if another writer got there first. The commit
    * primitive of every KV table ([[KVCommit]]).
    *
    *  - local: stage the bytes in a private tmp file, then hard-LINK it
    *    into place (link(2) is atomic and fails if the name exists);
    *  - S3-class ([[NoRenameSchemes]]): `create(overwrite = false)`,
    *    which S3A (Hadoop 3.4.1+, `fs.s3a.create.conditional.enabled`)
    *    maps onto the conditional PUT (`If-None-Match: *`), atomic with
    *    its content; [[probeConditionalCreate]] refuses a client that
    *    would degrade it to exists-then-PUT;
    *  - anything else (HDFS): a complete tmp file renamed into place;
    *    `FileSystem.rename` fails when the destination exists. */
  def createExclusive(path: String, content: String): Boolean = {
    val p = new Path(path); val fs = fsFor(p)
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    fs.mkdirs(p.getParent)
    if (scheme == "file") {
      val nio = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      val tmp = nio.resolveSibling(
        s".${nio.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.createLink(nio, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Exception => () }
      }
    } else if (NoRenameSchemes(scheme)) {
      probeConditionalCreate(fs, p)
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    } else {
      val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (fs.rename(tmp, p)) true
      else {
        fs.delete(tmp, false)
        // false is a lost race only if the name exists now
        if (!fs.exists(p)) throw new java.io.IOException(s"rename failed: $tmp -> $p")
        false
      }
    }
  }

  /** S3A's `create(overwrite=false)` is an atomic put-if-absent only on
    * Hadoop ≥ 3.4.1 WITH `fs.s3a.create.conditional.enabled` — older
    * clients silently degrade to exists-check-then-PUT, which would let
    * two writers of one commit seq both believe they won. The decision
    * is keyed on `hasPathCapability` first: on a capable client the
    * enabled flag surfaces as the path capability, while on an older
    * client the flag is a no-op, so trusting the flag ALONE would let
    * exactly the broken configuration through (pure decision split
    * out for the spec).
    *
    * Indeterminate probes: if `hasPathCapability` itself THREW (some
    * S3-compatible stores and older shims reject capability queries
    * outright — the probe then says nothing about conditional create),
    * the enable flag in the Hadoop conf is accepted as the operator's
    * word. A CLEAN `false` with the flag set still fails fast — a
    * capable 3.4.1+ client advertises the capability when the feature
    * is on — but the failure message documents the override
    * (`-Dgraft.kv.pointer.trustConditionalCreate=true` for builds that
    * genuinely implement conditional create without advertising it). */
  private[graft] def conditionalCreateUnsupported(scheme: String,
      hasCapability: Boolean): Boolean =
    scheme.startsWith("s3") && !hasCapability

  /** Probe outcome → verdict, pure for the spec: `capability` is
    * None when the probe threw. */
  private[graft] def probeDecision(scheme: String,
      capability: Option[Boolean], flagEnabled: Boolean,
      operatorTrust: Boolean): Boolean = capability match {
    case Some(cap) =>
      conditionalCreateUnsupported(scheme, cap) && !operatorTrust
    case None => // indeterminate probe: defer to the operator's flag
      scheme.startsWith("s3") && !flagEnabled && !operatorTrust
  }

  /** Per-scheme probe VERDICT (None = pass, Some(msg) = fail), not just
    * "was probed": a failed probe must keep failing every retried
    * commit in this JVM, or a caller that catches and loops (as bench
    * appenders do) would silently fall through to the non-atomic path
    * the check exists to block. */
  private val probeVerdict =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private def probeConditionalCreate(fs: FileSystem, p: Path): Unit = {
    val scheme = fs.getUri.getScheme
    val verdict = probeVerdict.computeIfAbsent(scheme, _ => {
      val cap =
        try Some(fs.hasPathCapability(p, "fs.s3a.capability.conditional.create"))
        catch { case _: Exception => None } // probe itself unavailable
      val flagEnabled =
        fs.getConf != null &&
          fs.getConf.getBoolean("fs.s3a.create.conditional.enabled", false)
      val operatorTrust =
        sys.props.get("graft.kv.pointer.trustConditionalCreate")
          .contains("true")
      if (probeDecision(scheme, cap, flagEnabled, operatorTrust))
        Some(
          s"KV commits on scheme '$scheme' need an atomic conditional " +
            "create, and the filesystem does not advertise one: S3A needs " +
            "Hadoop >= 3.4.1 with fs.s3a.create.conditional.enabled=true. " +
            "Without it, create(overwrite=false) is a non-atomic " +
            "exists-then-PUT and two writers of one commit seq could both " +
            "win. Enable the flag; if this build implements conditional " +
            "create without advertising the capability, set " +
            "-Dgraft.kv.pointer.trustConditionalCreate=true.")
      else None
    })
    verdict.foreach(msg => throw new IllegalStateException(msg))
  }

  def delete(path: String, recursive: Boolean): Boolean = {
    val p = new Path(path); val fs = fsFor(p)
    try fs.exists(p) && fs.delete(p, recursive)
    catch { case _: java.io.IOException => false } // non-empty dir, races
  }

  /** Delete the table-relative files `rels` of the table at `path`,
    * then each of their directories that is left empty (a writer's
    * directory, whose files are all gone): a rewrite's deletes. */
  def deleteFiles(path: String, rels: Seq[String]): Unit = {
    rels.foreach(r => delete(s"$path/$r", recursive = false))
    rels.map(r => r.substring(0, r.lastIndexOf('/') max 0)).distinct
      .filter(_.nonEmpty).foreach(d => delete(s"$path/$d", recursive = false))
  }

  /** Set a file's modification time (access time untouched). Stream
    * staging uses this to make file-source pickup order explicit —
    * see [[graft.streaming.Staging.ordered]]. */
  def setModifiedTime(path: String, mtimeMs: Long): Unit = {
    val p = new Path(path); fsFor(p).setTimes(p, mtimeMs, -1)
  }

  /** Copy a data file BY REFERENCE where the store allows it: a hard
    * link on local/POSIX filesystems (O(1), and the bytes stay alive
    * until BOTH directory entries are gone — so the source table
    * deleting its file later never invalidates the link), a plain copy
    * elsewhere. The zero-copy clone's primitive (`KVTable.cloneTo`). */
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
