package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.kv.{GraftBucket, GraftFs, KVLogWrite, KVLogWriterFactory, KVLogFile, KVSource}
import graft.write.KVTable

/** The DSv2 append path's two-phase commit, exercised at the task level
  * where failure injection is deterministic: files written under the
  * dot-prefixed inflight dir must be invisible to readers until JOB
  * commit, an aborted task's file must never become visible, and commit
  * must land exactly the committed tasks' rows in `log/`.
  */
class KVLogWriteSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cell(key: Long, value: String, ts: Long) =
    new GenericInternalRow(Array[Any](key, UTF8String.fromString("f"),
      UTF8String.fromString("q"), UTF8String.fromString(value), ts, null))

  test("inflight files are reader-invisible; commit publishes, abort cleans") {
    val path = new java.io.File(targetPath("graft_kv_test/logwrite"))
      .getAbsolutePath
    GraftFs.delete(path, recursive = true)
    val inflight = s"$path/log/.inflight-qtest"
    val factory = new KVLogWriterFactory(inflight, "qtest")

    // task 0 commits two cells
    val w0 = factory.createWriter(0, 100L)
    w0.write(cell(1L, "a", 10L)); w0.write(cell(2L, "b", 11L))
    val msg0 = w0.commit().asInstanceOf[KVLogFile]
    // task 1 (a failed/speculative attempt) writes then aborts
    val w1 = factory.createWriter(1, 101L)
    w1.write(cell(3L, "GHOST", 12L))
    w1.abort()

    // before job commit: nothing in the log listing — the inflight dir
    // is a directory (filtered) and its files are not direct children
    assert(GraftFs.dataFiles(s"$path/log").isEmpty,
      "inflight data leaked into the readable listing")

    val job = new KVLogWrite(path, "qtest")
    job.commit(Array(msg0))

    val published = GraftFs.dataFiles(s"$path/log")
    assert(published.map(_.name) === Seq(msg0.name))
    assert(!GraftFs.exists(inflight), "inflight dir must be cleaned up")

    // the published file reads back through the same schema the library
    // write path uses — including the aborted row being absent
    val rows = spark.read
      .schema(graft.write.KVTable.CELL_SCHEMA_DDL)
      .parquet(s"$path/log")
      .select($"key", $"value", $"ts").as[(Long, String, Long)]
      .collect().toSet
    assert(rows === Set((1L, "a", 10L), (2L, "b", 11L)))
  }

  test("job abort removes the inflight dir and publishes nothing") {
    val path = new java.io.File(targetPath("graft_kv_test/logwrite_abort"))
      .getAbsolutePath
    GraftFs.delete(path, recursive = true)
    val inflight = s"$path/log/.inflight-qabort"
    val w = new KVLogWriterFactory(inflight, "qabort").createWriter(0, 1L)
    w.write(cell(9L, "x", 1L))
    val msg = w.commit()
    new KVLogWrite(path, "qabort").abort(Array(msg))
    assert(!GraftFs.exists(inflight))
    assert(GraftFs.dataFiles(s"$path/log").isEmpty)
  }

  private def fresh(rel: String): String = {
    val path = new java.io.File(targetPath(rel)).getAbsolutePath
    GraftFs.delete(path, recursive = true)
    path
  }

  private def logRows(path: String): Set[(Long, String, Long)] =
    spark.read.schema(KVTable.CELL_SCHEMA_DDL)
      .parquet(GraftFs.dataFiles(s"$path/log").map(_.path): _*)
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
    val before = GraftFs.dataFiles(s"$path/log").map(_.name).toSet
    Seq((2L, "f", "q", "b", 2L)).toDF("key", "family", "qualifier", "value", "ts")
      .withColumn("tomb", lit(null).cast("string")).repartition(4)
      .createOrReplaceTempView("kvlog_one_row")
    spark.sql(s"INSERT INTO ${KVSource.sqlName(spark, path)} SELECT * FROM kvlog_one_row")
    val added = GraftFs.dataFiles(s"$path/log").filterNot(e => before(e.name))
    assert(added.size === 1, added.map(_.name).mkString(", "))
    assert(logRows(path) === Set((1L, "a", 1L), (2L, "b", 2L)))
    t.drop()
  }

  test("every write path leaves only non-empty data files in log/: put, " +
    "delete, increment, SQL INSERT, delta MERGE, group-filtered CoW MERGE") {
    val path = fresh("graft_kv_test/logwrite_paths")
    val t = KVTable(spark, path)
    val ident = KVSource.sqlName(spark, path)
    def cells(rows: (Long, String, String, String, Long)*) =
      rows.toDF("key", "family", "qualifier", "value", "ts")
    def onlyData(step: String): Unit = {
      val bad = GraftFs.list(s"$path/log").filter { e =>
        if (e.isDir) !e.name.matches("\\.retired-g\\d+")
        else e.name.startsWith("_") || e.name.startsWith(".") ||
          spark.read.parquet(e.path).isEmpty
      }
      assert(bad.isEmpty, s"$step left ${bad.map(_.name).mkString(", ")} in log/")
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
    assert(GraftFs.dataFiles(s"$path/log").nonEmpty, "nothing carried forward")
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
