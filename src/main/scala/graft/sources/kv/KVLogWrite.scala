package graft.sources.kv

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.SQLExecution

/** The one writer of a graft KV table's append log. Every cell append
  * lands through it: the library `KVTable.put` (and so `delete` and
  * `increment`) through [[KVLogWrite.append]], the copy-on-write
  * commit's carry-forward through [[KVLogWrite.stage]], SQL `INSERT
  * INTO graft.(...)` and the delta MERGE through Spark's DataSourceV2
  * batch write. This is the reference's one mutation sink,
  * per-partition buffered puts with empty puts skipped
  * (HBaseTable.scala:100-155).
  *
  * Commit protocol: every task writes at most one parquet file — none
  * when it has no rows — into this write's own directory
  * `log/<queryId>`, where the file stays; job commit is one commit
  * record naming the committed tasks' files ([[KVCommit.append]]), so a
  * reader sees all of them or none. Files of failed or speculative task
  * attempts are never named and are deleted at commit; an aborted write
  * deletes its directory. File names carry the write's query id, so two
  * writes whose tasks share `(partitionId, taskId)` — task ids restart
  * in every SparkContext — never land on the same name.
  */
class KVWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new KVLogWrite(path, info.queryId())
}

class KVLogWrite(path: String, queryId: String) extends Write with BatchWrite {
  /** This write's directory, table-relative. */
  protected val dir: String = s"log/$queryId"

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-kv append `$path`"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVLogWriterFactory(s"$path/$dir", queryId)

  /** The committed tasks' files, table-relative, and their max cell ts. */
  private[kv] def staged(messages: Seq[WriterCommitMessage]): (Seq[KVFile], Long) =
    KVStagedWrite.files(path, dir, messages)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (files, maxTs) = staged(messages.toSeq)
    KVCommit.append(KVLayout(path), files, maxTs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    GraftFs.delete(s"$path/$dir", recursive = true): Unit
  }
}

object KVLogWrite {
  /** Write `cells` (the six cell columns, in `CELL_SCHEMA` order) as log
    * files of the table at `path`, one log-writer task per partition of
    * `cells`, run as one SQL execution, and commit nothing: returns the
    * files and their max cell ts for the caller's commit record. */
  private[kv] def stage(path: String, cells: DataFrame): (Seq[KVFile], Long) = {
    val queryId = java.util.UUID.randomUUID.toString
    val write = new KVLogWrite(path, queryId)
    write.staged(KVStagedWrite.run(cells,
      new KVLogWriterFactory(s"$path/${write.dir}", queryId),
      s"$path/${write.dir}", write.description()))
  }

  /** Append `cells` to the log of the table at `path`: [[stage]], then
    * one commit record. */
  private[graft] def append(path: String, cells: DataFrame): Unit = {
    val (files, maxTs) = stage(path, cells)
    KVCommit.append(KVLayout(path), files, maxTs)
  }
}

/** The one driver-side task loop of the KV writers that run their own
  * job: the log append ([[KVLogWrite.stage]]) and the compaction
  * rewrite ([[KVGeneration.writeResolved]]).
  * Partition i's rows go to the writer `factory` creates for partition
  * i; a task that throws aborts its writer, and a job that fails
  * deletes `dir`, the write's directory, so nothing it wrote survives.
  * Returns the committed tasks' messages, in partition order, for the
  * caller's commit record. */
private[kv] object KVStagedWrite {
  private val Description = "spark.job.description"

  /** The files the committed tasks of a write into `dir` (relative to
    * the table at `path`) report, table-relative, with their max cell
    * ts; every other file in `dir` — a failed or speculative attempt's —
    * is deleted. */
  def files(path: String, dir: String,
            messages: Seq[WriterCommitMessage]): (Seq[KVFile], Long) = {
    val written = messages.collect { case f: KVDataFile if f.name.nonEmpty => f }
    val names = written.map(_.name).toSet
    GraftFs.list(s"$path/$dir").filterNot(e => names(e.name))
      .foreach(e => GraftFs.delete(e.path, recursive = true))
    (written.map(f => KVFile(s"$dir/${f.name}", f.len, f.bucket)),
      written.map(_.maxTs).foldLeft(Long.MinValue)(math.max))
  }

  /** Stage `rows`, each partition passed through `task`, as one SQL
    * execution, so listeners attribute its jobs to it. */
  def run(rows: DataFrame, factory: DataWriterFactory, dir: String,
          description: String,
          task: Iterator[InternalRow] => Iterator[InternalRow] = identity)
      : Seq[WriterCommitMessage] = {
    val qe = rows.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(description))(
      run(qe.toRdd.mapPartitions(task), factory, dir, description))
  }

  /** Stage `rows` on the caller's thread, under its local properties,
    * with `description` as the job description. */
  def run(rows: => RDD[InternalRow], factory: DataWriterFactory,
          dir: String, description: String): Seq[WriterCommitMessage] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val callerDescription = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, description)
    try rows.mapPartitionsWithIndex { (id, it) =>
      val w = factory.createWriter(id, TaskContext.get().taskAttemptId())
      try { it.foreach(w.write); Iterator(w.commit()) }
      catch { case e: Throwable => w.abort(); throw e }
      finally w.close()
    }.collect().toSeq
    catch { case e: Throwable => GraftFs.delete(dir, recursive = true); throw e }
    finally sc.setLocalProperty(Description, callerDescription)
  }
}

/** A writer task's one file: its name in the write's directory, its
  * exact length and bucket (-1: a log file), and its max cell ts
  * (Long.MinValue: none). An empty name means the task wrote no row. */
case class KVDataFile(name: String, len: Long, bucket: Int, maxTs: Long)
    extends WriterCommitMessage

class KVLogWriterFactory(dir: String, queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVLogDataWriter(dir, queryId, partitionId, taskId)
}

/** One task = at most one parquet file of cells, written row-wise
  * through parquet-mr (appends are memstore-sized by contract — the
  * bulk path is compaction). */
class KVLogDataWriter(dir: String, queryId: String, partitionId: Int,
                      taskId: Long)
    extends DataWriter[InternalRow] {
  private val out = new KVCellFileWriter(dir,
    f"part-$partitionId%05d-$taskId-$queryId.parquet", -1)

  override def write(row: InternalRow): Unit = out.write(row, 0)
  override def commit(): WriterCommitMessage = out.commit()
  override def abort(): Unit = out.abort()
  override def close(): Unit = ()
}

/** The file one writer task writes, log and compacted alike: opened on
  * the first cell, so a task with no rows lands no file, and closed by
  * [[commit]], which reports its exact length (stat after close) and its
  * max cell ts for the commit record. */
private[kv] final class KVCellFileWriter(dir: String, name: String, bucket: Int) {
  import KVLogDataWriter._

  private val path = new HPath(s"$dir/$name")
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private lazy val groups = new SimpleGroupFactory(CELL_TYPE)
  private var maxTs = Long.MinValue

  /** Append the cell whose `key` is field `off` of `row`. */
  def write(row: InternalRow, off: Int): Unit = {
    if (writer == null) writer = openCellWriter(path)
    if (!row.isNullAt(off + 4)) maxTs = math.max(maxTs, row.getLong(off + 4))
    writer.write(cellGroup(groups, row, off))
  }

  def commit(): KVDataFile =
    if (writer == null) KVDataFile("", 0L, bucket, maxTs)
    else {
      writer.close()
      KVDataFile(name, rawFs(path).getFileStatus(path).getLen, bucket, maxTs)
    }

  def abort(): Unit = if (writer != null) writer.close()
}

object KVLogDataWriter {
  private def str(n: String): PrimitiveType =
    Types.optional(PrimitiveTypeName.BINARY).as(stringType()).named(n)
  private def i64(n: String): PrimitiveType =
    Types.optional(PrimitiveTypeName.INT64).named(n)

  /** Parquet shape of `KVTable.CELL_SCHEMA_DDL`. */
  val CELL_TYPE: MessageType = new MessageType("graft_cells",
    i64("key"), str("family"), str("qualifier"), str("value"),
    i64("ts"), str("tomb"))

  /** The filesystem of `p`, raw on `file:` (no `.crc` sibling next to
    * a data file that stays where its task wrote it). */
  private[kv] def rawFs(p: HPath): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(new Configuration(false)) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case fs => fs
    }

  /** Open a snappy-compressed parquet-mr writer over [[CELL_TYPE]]. */
  private[kv] def openCellWriter(
      p: HPath): org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group] = {
    val conf = new Configuration(false)
    GroupWriteSupport.setSchema(CELL_TYPE, conf)
    val fs = rawFs(p)
    val file = new org.apache.parquet.io.OutputFile {
      import org.apache.parquet.hadoop.util.HadoopStreams.wrap
      override def create(blockSize: Long) = wrap(fs.create(p, false))
      override def createOrOverwrite(blockSize: Long) = wrap(fs.create(p, true))
      override def supportsBlockSize(): Boolean = false
      override def defaultBlockSize(): Long = 0L
      override def getPath: String = p.toString
    }
    ExampleParquetWriter.builder(file)
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
  }

  /** THE cell→parquet-group encoding (field order = [[CELL_TYPE]]).
    * Every cell writer — log append and CoW generation alike — encodes
    * through this one mapping, or generations and log files would
    * diverge on a schema change. `off` = index of `key` in the row. */
  private[kv] def cellGroup(groups: SimpleGroupFactory, row: InternalRow,
                            off: Int): org.apache.parquet.example.data.Group = {
    val g = groups.newGroup()
    if (!row.isNullAt(off)) g.append("key", row.getLong(off))
    if (!row.isNullAt(off + 1)) g.append("family", row.getUTF8String(off + 1).toString)
    if (!row.isNullAt(off + 2)) g.append("qualifier", row.getUTF8String(off + 2).toString)
    if (!row.isNullAt(off + 3)) g.append("value", row.getUTF8String(off + 3).toString)
    if (!row.isNullAt(off + 4)) g.append("ts", row.getLong(off + 4))
    if (!row.isNullAt(off + 5)) g.append("tomb", row.getUTF8String(off + 5).toString)
    g
  }
}
