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

/** The one writer of a graft KV table's append log `log/`. Every cell
  * append lands through it: the library `KVTable.put` (and so `delete`
  * and `increment`) and the copy-on-write commit's carry-forward
  * through [[KVLogWrite.append]]; SQL `INSERT INTO graft.(...)` and the
  * delta MERGE through Spark's DataSourceV2 batch write. This is the
  * reference's one mutation sink, per-partition buffered puts with
  * empty puts skipped (HBaseTable.scala:100-155).
  *
  * Commit protocol: every task writes at most one parquet file — none
  * when it has no rows — under the dot-prefixed inflight directory
  * `log/.inflight-<queryId>`, invisible to readers, which list only
  * non-hidden plain files ([[GraftFs.dataFiles]]), and job commit
  * moves the committed tasks' files into `log/` one rename each. A
  * reader racing the commit sees a prefix of the files (each is a
  * complete parquet file, and cell appends are order-independent —
  * latest-wins resolves on `ts`, not file order); failed or
  * speculative task attempts die in the inflight dir and are removed
  * by commit/abort cleanup. File names carry the write's query id, so
  * two writes whose tasks share `(partitionId, taskId)` — task ids
  * restart in every SparkContext — never land on the same name. On
  * HDFS the renames are namenode-atomic; the S3 story is the same one
  * the pointer protocol documents ([[GraftFs]] scheme notes).
  */
class KVWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new KVLogWrite(path, info.queryId())
}

class KVLogWrite(path: String, queryId: String) extends Write with BatchWrite {
  private val logDir = s"$path/log"
  protected val inflightDir: String = s"$logDir/.inflight-$queryId"

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-kv append `$path`"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVLogWriterFactory(inflightDir, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val names = messages.collect { case KVLogFile(name) if name.nonEmpty => name }
    if (names.nonEmpty) GraftFs.mkdirs(logDir)
    names.foreach(name => GraftFs.move(s"$inflightDir/$name", s"$logDir/$name"))
    GraftFs.delete(inflightDir, recursive = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    GraftFs.delete(inflightDir, recursive = true): Unit
  }
}

object KVLogWrite {
  /** Append `cells` (the six cell columns, in `CELL_SCHEMA` order) to
    * the log of the table at `path`: one log-writer task per partition
    * of `cells`, run as one SQL execution, then [[KVLogWrite.commit]]. */
  private[graft] def append(path: String, cells: DataFrame): Unit = {
    val queryId = java.util.UUID.randomUUID.toString
    val write = new KVLogWrite(path, queryId)
    write.commit(KVStagedWrite.run(cells,
      new KVLogWriterFactory(write.inflightDir, queryId),
      write.inflightDir, write.description()).toArray)
  }
}

/** The one driver-side task loop of the KV writers that run their own
  * job: the log append ([[KVLogWrite.append]]) and the compaction
  * rewrite ([[KVGeneration.writeResolved]]).
  * Partition i's rows go to the writer `factory` creates for partition
  * i; a task that throws aborts its writer, and a job that fails
  * deletes `inflight`, so nothing it staged survives. Returns the
  * committed tasks' messages, in partition order, for the caller's
  * job commit. */
private[kv] object KVStagedWrite {
  private val Description = "spark.job.description"

  /** Stage `rows`, each partition passed through `task`, as one SQL
    * execution, so listeners attribute its jobs to it. */
  def run(rows: DataFrame, factory: DataWriterFactory, inflight: String,
          description: String,
          task: Iterator[InternalRow] => Iterator[InternalRow] = identity)
      : Seq[WriterCommitMessage] = {
    val qe = rows.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(description))(
      run(qe.toRdd.mapPartitions(task), factory, inflight, description))
  }

  /** Stage `rows` on the caller's thread, under its local properties,
    * with `description` as the job description. */
  def run(rows: => RDD[InternalRow], factory: DataWriterFactory,
          inflight: String, description: String): Seq[WriterCommitMessage] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val callerDescription = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, description)
    try rows.mapPartitionsWithIndex { (id, it) =>
      val w = factory.createWriter(id, TaskContext.get().taskAttemptId())
      try { it.foreach(w.write); Iterator(w.commit()) }
      catch { case e: Throwable => w.abort(); throw e }
      finally w.close()
    }.collect().toSeq
    catch { case e: Throwable => GraftFs.delete(inflight, recursive = true); throw e }
    finally sc.setLocalProperty(Description, callerDescription)
  }
}

case class KVLogFile(name: String) extends WriterCommitMessage

class KVLogWriterFactory(inflight: String, queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVLogDataWriter(inflight, queryId, partitionId, taskId)
}

/** One task = at most one parquet file of cells, written row-wise
  * through parquet-mr (appends are memstore-sized by contract — the
  * bulk path is compaction). The file is opened on the first row, so a
  * task with no rows lands no file and commits an empty name. */
class KVLogDataWriter(inflight: String, queryId: String, partitionId: Int,
                      taskId: Long)
    extends DataWriter[InternalRow] {
  import KVLogDataWriter._

  private val name = f"part-$partitionId%05d-$taskId-$queryId.parquet"
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private lazy val groups = new SimpleGroupFactory(CELL_TYPE)

  override def write(row: InternalRow): Unit = {
    if (writer == null) writer = openCellWriter(s"$inflight/$name")
    writer.write(cellGroup(groups, row, 0))
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) KVLogFile("")
    else { writer.close(); KVLogFile(name) }
  override def abort(): Unit = if (writer != null) writer.close()
  override def close(): Unit = ()
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

  /** Open a snappy-compressed parquet-mr writer over [[CELL_TYPE]]. */
  private[kv] def openCellWriter(
      file: String): org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group] = {
    val conf = new Configuration(false)
    GroupWriteSupport.setSchema(CELL_TYPE, conf)
    ExampleParquetWriter.builder(new HPath(file))
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
