package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under its own scheme, `faultfs:`, for specs that
  * fail or pause storage mutations: every mutating call (create, rename,
  * delete, mkdirs) first hands its kind and path to [[FaultFs.hook]],
  * which may throw (a crash) or block (a pause). Registered through
  * `META-INF/services`, so the executor-side parquet writers and
  * readers, whose Hadoop confs carry no `fs.faultfs.impl`, resolve it
  * too. Rename has HDFS semantics: it fails, atomically, when the
  * destination exists. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = "faultfs"

  private def mutate(kind: String, p: Path): Unit = FaultFs.hook(kind, p)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", dst)
    val s = pathToFile(src).toPath; val d = pathToFile(dst).toPath
    if (java.nio.file.Files.isDirectory(s)) super.rename(src, dst)
    else try {
      java.nio.file.Files.createLink(d, s) // fails if `dst` exists
      java.nio.file.Files.delete(s)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutate("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path): Boolean = { mutate("mkdirs", p); super.mkdirs(p) }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", p)
    super.mkdirs(p, permission)
  }
}

object FaultFs {
  private val Uri = URI.create("faultfs:///")

  /** Runs before every mutating call, with its kind and path. */
  @volatile var hook: (String, Path) => Unit = (_, _) => ()

  def reset(): Unit = hook = (_, _) => ()

  /** `dir` (an absolute local path) under the `faultfs:` scheme. */
  def uri(dir: String): String = s"faultfs://$dir"

  /** Install a hook that fails the `k`-th mutating call from now and
    * every one after it, as a dead process makes none, until [[reset]]:
    * no cleanup runs. Returns the count of calls seen. */
  def crashAt(k: Int): AtomicInteger = {
    val calls = new AtomicInteger(0)
    hook = (kind, p) =>
      if (calls.incrementAndGet() >= k)
        throw new java.io.IOException(s"injected crash at mutating call $k ($kind $p)")
    calls
  }
}
