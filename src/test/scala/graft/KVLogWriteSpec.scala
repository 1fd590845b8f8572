package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.kv.{GraftBucket, GraftFs, KVDataFile, KVLayout, KVLogWrite, KVLogWriterFactory, KVSource}
import graft.write.KVTable

/** The DSv2 append path's commit, exercised at the task level where
  * failure injection is deterministic: files the tasks write must be
  * invisible to readers until the JOB commit's record, an aborted
  * task's file must never become visible, and commit must land exactly
  * the committed tasks' rows with their exact lengths.
  */
class KVLogWriteSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cell(key: Long, value: String, ts: Long) =
    new GenericInternalRow(Array[Any](key, UTF8String.fromString("f"),
      UTF8String.fromString("q"), UTF8String.fromString(value), ts, null))

  test("written files are reader-invisible until the commit record; commit " +
    "publishes the committed task's file at its exact length, abort cleans") {
    val path = new java.io.File(targetPath("graft_kv_test/logwrite"))
      .getAbsolutePath
    GraftFs.delete(path, recursive = true)
    val dir = s"$path/log/qtest"
    val factory = new KVLogWriterFactory(dir, "qtest")

    // task 0 commits two cells
    val w0 = factory.createWriter(0, 100L)
    w0.write(cell(1L, "a", 10L)); w0.write(cell(2L, "b", 11L))
    val msg0 = w0.commit().asInstanceOf[KVDataFile]
    assert(msg0.maxTs === 11L && msg0.bucket === -1)
    // task 1 (a failed/speculative attempt) writes then aborts
    val w1 = factory.createWriter(1, 101L)
    w1.write(cell(3L, "GHOST", 12L))
    w1.abort()

    // before job commit: no record, nothing in the layout
    assert(!KVLayout.exists(path) && KVLayout(path).logFiles.isEmpty,
      "uncommitted data leaked into the layout")

    val job = new KVLogWrite(path, "qtest")
    job.commit(Array(msg0))

    val published = KVLayout(path)
    val file = s"$dir/${msg0.name}"
    assert(published.logFiles === Seq(file))
    assert(published.lenByPath(file) === new java.io.File(file).length())
    assert(GraftFs.list(dir).map(_.name) === Seq(msg0.name),
      "the aborted attempt's file must be deleted")

    // the published file reads back through the same schema the library
    // write path uses — including the aborted row being absent
    val rows = spark.read
      .schema(graft.write.KVTable.CELL_SCHEMA_DDL)
      .parquet(published.logFiles: _*)
      .select($"key", $"value", $"ts").as[(Long, String, Long)]
      .collect().toSet
    assert(rows === Set((1L, "a", 10L), (2L, "b", 11L)))
  }

  test("job abort removes the write's directory and publishes nothing") {
    val path = new java.io.File(targetPath("graft_kv_test/logwrite_abort"))
      .getAbsolutePath
    GraftFs.delete(path, recursive = true)
    val dir = s"$path/log/qabort"
    val w = new KVLogWriterFactory(dir, "qabort").createWriter(0, 1L)
    w.write(cell(9L, "x", 1L))
    val msg = w.commit()
    new KVLogWrite(path, "qabort").abort(Array(msg))
    assert(!GraftFs.exists(dir))
    assert(!KVLayout.exists(path))
  }

  private def fresh(rel: String): String = {
    val path = new java.io.File(targetPath(rel)).getAbsolutePath
    GraftFs.delete(path, recursive = true)
    path
  }

  private def logRows(path: String): Set[(Long, String, Long)] =
    spark.read.schema(KVTable.CELL_SCHEMA_DDL)
      .parquet(KVLayout(path).logFiles: _*)
      .select($"key", $"value", $"ts").as[(Long, String, Long)].collect().toSet

  test("two writes whose tasks share (partitionId, taskId) keep both files' rows") {
    // task attempt ids restart in every SparkContext, so two sessions'
    // appends can both run a task (0, 7)
    val path = fresh("graft_kv_test/logwrite_collide")
    for ((queryId, key) <- Seq("qfirst" -> 1L, "qsecond" -> 2L)) {
      val job = new KVLogWrite(path, queryId)
      val w = job.createBatchWriterFactory(null).createWriter(0, 7L)
      w.write(cell(key, queryId, 1L))
      job.commit(Array(w.commit()))
    }
    assert(logRows(path) === Set((1L, "qfirst", 1L), (2L, "qsecond", 1L)))
  }

  test("an INSERT whose source has empty partitions lands one file per " +
    "non-empty task") {
    val path = fresh("graft_kv_test/logwrite_empty")
    val t = KVTable(spark, path)
    t.put(Seq((1L, "f", "q", "a", 1L)).toDF("key", "family", "qualifier", "value", "ts"))
    val before = KVLayout(path).logFiles.toSet
    Seq((2L, "f", "q", "b", 2L)).toDF("key", "family", "qualifier", "value", "ts")
      .withColumn("tomb", lit(null).cast("string")).repartition(4)
      .createOrReplaceTempView("kvlog_one_row")
    spark.sql(s"INSERT INTO ${KVSource.sqlName(spark, path)} SELECT * FROM kvlog_one_row")
    val added = KVLayout(path).logFiles.filterNot(before)
    assert(added.size === 1, added.mkString(", "))
    assert(logRows(path) === Set((1L, "a", 1L), (2L, "b", 2L)))
    t.drop()
  }

  test("every write path leaves only non-empty data files in log/: put, " +
    "delete, increment, SQL INSERT, delta MERGE, group-filtered CoW MERGE") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val path = fresh("graft_kv_test/logwrite_paths")
    val t = KVTable(spark, path)
    val ident = KVSource.sqlName(spark, path)
    def cells(rows: (Long, String, String, String, Long)*) =
      rows.toDF("key", "family", "qualifier", "value", "ts")
    def onlyData(step: String): Unit = {
      val bad = walk(new java.io.File(s"$path/log")).filter { f =>
        f.getName.startsWith("_") || f.getName.startsWith(".") ||
          spark.read.parquet(f.getPath).isEmpty
      }
      assert(bad.isEmpty, s"$step left ${bad.mkString(", ")} in log/")
    }
    // numeric values: increment reads every live cell as a counter
    t.put(cells((1L to 40L).map(k => (k, "F", "a", s"$k", 1L)): _*))
    onlyData("put")
    t.delete(Seq((3L, "F", "a")).toDF("key", "family", "qualifier"), ts = 2L)
    onlyData("delete")
    t.increment(Seq((5L, "C", "n", 3L)).toDF("key", "family", "qualifier", "delta"), ts = 3L)
    onlyData("increment")
    spark.sql(s"INSERT INTO $ident VALUES (41, 'F', 'a', '41', 4, CAST(NULL AS STRING))")
    onlyData("SQL INSERT")
    Seq((6L, "m6"), (42L, "m42")).toDF("key", "value")
      .createOrReplaceTempView("kvlog_paths_updates")
    spark.sql(
      s"""MERGE INTO $ident t USING kvlog_paths_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'a'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 6
         |WHEN NOT MATCHED THEN
         |  INSERT (key, family, qualifier, value, ts, tomb)
         |  VALUES (u.key, 'F', 'a', u.value, 6, null)""".stripMargin)
    onlyData("delta MERGE")

    t.compact(numBuckets = 4)
    // a pending row in a bucket the CoW MERGE leaves untouched: its
    // commit carries it forward through the log writer
    val touched = Set(6L, 42L).map(GraftBucket.of(_, 4))
    val pending = (10L to 40L).find(k => !touched(GraftBucket.of(k, 4))).get
    t.put(cells((pending, "F", "a", "pending", 7L)))
    Seq((6L, "c6"), (42L, "c42")).toDF("key", "value")
      .createOrReplaceTempView("kvlog_paths_updates")
    spark.conf.set("spark.graft.kv.rowlevel", "cow")
    try spark.sql(
      s"""MERGE INTO $ident t USING kvlog_paths_updates u
         |ON t.key = u.key AND t.family = 'F' AND t.qualifier = 'a'
         |WHEN MATCHED THEN UPDATE SET value = u.value, ts = 8""".stripMargin)
    finally spark.conf.unset("spark.graft.kv.rowlevel")
    assert(KVLayout(path).logFiles.nonEmpty, "nothing carried forward")
    onlyData("CoW MERGE")
    val got = t.resolved().filter(col("family") === "F")
      .select($"key", $"value").as[(Long, String)].collect().toMap
    assert(got(pending) === "pending" && got(6L) === "c6" && got(42L) === "c42")
    assert(!got.contains(3L) && got(41L) === "41")
    assert(t.resolved().filter(col("family") === "C")
      .select($"value").as[String].collect().toSeq === Seq("3"))
    t.drop()
  }
}
