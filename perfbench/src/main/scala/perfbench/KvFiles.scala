package perfbench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Outside-in measurements of a KV table's files: what is on disk, what
  * an op wrote, and how many cell rows a read has to go through. */
object KvFiles {
  /** Every regular file under `dir`, with its length. */
  def listing(dir: String): Map[String, Long] = {
    def walk(f: File): Iterator[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else if (f.isFile) Iterator(f.getPath -> f.length)
      else Iterator.empty
    walk(new File(dir)).toMap
  }

  def bytes(dir: String): Long = listing(dir).values.sum

  /** Bytes in files that are new or changed since `before`. */
  def written(before: Map[String, Long], dir: String): Long =
    listing(dir).iterator.collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def rows(file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getRecordCount finally r.close()
  }

  /** What a full read of the table goes through right now: the live
    * log files and their size, and the cell rows stored in the files the
    * reader lists (current compacted generation plus log). */
  def readShape(table: String): Map[String, Double] = {
    val layout = graft.sources.kv.KVLayout(table)
    val logBytes = layout.logFiles.map(layout.lenByPath).sum
    val stored = (layout.logFiles ++ layout.compactedByBucket.values.flatten).map(rows).sum
    Map("log_files" -> layout.logFiles.size.toDouble,
      "log_mb" -> logBytes / 1e6, "stored_rows" -> stored.toDouble)
  }
}
